"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is one operator/query from SURVEY.md §2 (or a
training-data pipeline operator), implemented Spark-first in
``comet_spark/``; ``oracle_sql()`` holds the DuckDB-equivalent SQL the
driver hash-compares against at sf=0.01.

Parity rules (shared by the Spark plans and the SQL oracles):
- all vector math in DOUBLE, final scores ROUND(…, 6)
- every ordering is a total order (score, then id) so top-k is deterministic
- tokenizer is UAX#29 word segmentation (lower + wordlike filter), the
  same native regex pipeline on both sides — see functions/text.py and
  _SQL_TOKENIZE below (reference pipeline: bm25_index.go:153-166)
- numeric metadata comparisons use the reference's ×100 quantization
  (CAST(TRUNC(v*100) AS BIGINT) — Go truncation, metadata_index.go:142-143)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from comet_spark.functions.text import STOPWORDS_EN, tokenize
from comet_spark.operators.autocut import autocut
from comet_spark.operators.bm25 import BM25, tokenize_py
from comet_spark.operators.fusion import fuse_max, fuse_min, rrf, weighted_sum
from comet_spark.operators.knn import knn, knn_aggregate
from comet_spark.operators.metadata import (
    Between,
    Eq,
    Exists,
    Gt,
    In,
    Ne,
    NotExists,
    NotIn,
    NumField,
    Field,
    Where,
    q100,
)
from comet_spark.plans.builder import Corpus

# ---------------------------------------------------------------------------
# shared fixtures (pinned; the oracle SQL inlines the same constants)
# ---------------------------------------------------------------------------

K = 10
QUERY_VEC_ID = 0
MULTI_QIDS = (0, 1, 2)
PREFILTER_LABELS = (1, 3, 5)
RANGE_THRESHOLD = 1.25
MLT_NODE_ID = 7
BM25_QUERY = "spark table join fast"
BM25_QUERY_2 = "window batch stream"
HYBRID_LANG = "en"
NEARDUP_SIM = 0.40

# trained-index artifacts (centroids, probe sets, LUTs, codes, signatures,
# quantized layouts) export to parquet here; DuckDB oracles replay the
# pruned/encoded scans from these artifacts by construction
_ART_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".artifacts", "ann")
_ART01 = f"{_ART_ROOT}/sf0.01"  # oracle SQL always runs at the sf0.01 gate


def _art_dir(sf_dir: str) -> str:
    return f"{_ART_ROOT}/{os.path.basename(sf_dir.rstrip('/'))}"

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _skey(spark: SparkSession) -> str:
    """Stable per-session memo key. applicationId, NOT id(spark): a GC'd
    session's reused object address could alias a fresh session onto a
    stale memo entry (cached DataFrames, already-exported artifacts)."""
    return spark.sparkContext.applicationId


# query PLAN memoization (r13 optimization, guide §5 — the driver should
# do almost no per-execution work): building a registered query's
# DataFrame costs 0.05-0.5 s of driver-side work (py4j roundtrips + one
# eager analyzer run per transform; ~95-node plans for the hybrids), paid
# on EVERY bench pass for a plan that is a pure function of
# (session, sf_dir, corpus). The memo stores the ANALYZED LOGICAL PLAN
# only and re-wraps it in a FRESH Dataset per call
# (Dataset.ofRows → new QueryExecution), so every execution re-optimizes,
# re-plans and recomputes from the parquet inputs — shuffles and scans
# all re-run (verified: re-collecting the SAME DataFrame object reuses
# AQE's materialized stages at ~0.13 s, while a fresh ofRows wrap of the
# memoized plan runs the full ~1 s computation). This is prepared-
# statement reuse, not result caching. Keyed by the full base-table
# corpus fingerprint (same staleness contract as _T_CACHE): a
# regenerated fixture re-routes into a fresh build, which also re-runs
# the builder's own gates and asserts for the new corpus. First call in
# a session builds normally (paying any artifact-build / conf-set side
# effects, which are themselves session-memoized by their builders).
_PLAN_MEMO: dict[tuple[str, str, str, str], object] = {}
_SIG_ALL_TABLES: str | None = None


def _all_tables_sig(sf_dir: str) -> str:
    global _SIG_ALL_TABLES
    if _SIG_ALL_TABLES is None:
        from comet_spark.session import TABLES

        _SIG_ALL_TABLES = "+".join(TABLES)
    return _corpus_sig(sf_dir, _SIG_ALL_TABLES)


def _plan_memoized(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        sig = _all_tables_sig(sf_dir)
        if sig == "":  # missing table ⇒ staleness guard is vacuous: never memoize
            return fn(spark, sf_dir)
        key = (_skey(spark), sf_dir, name, sig)
        jplan = _PLAN_MEMO.get(key)
        if jplan is None:
            df = fn(spark, sf_dir)
            _PLAN_MEMO[key] = df._jdf.queryExecution().analyzed()
            return df
        # the two runtime confs _t() asserts (nanosAsLong at scan time,
        # session timezone at NTZ→instant conversion) matter at
        # EXECUTION time, and on this memo-hit path fn — and thus _t —
        # never runs; re-assert them here so a mid-session conf reset
        # cannot make a memoized events plan execute under the wrong
        # zone (ADVICE r13). Two conf reads ≈ microseconds vs the plan
        # build this path saves.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, jplan
        )
        return DataFrame(jdf, spark)

    wrapped.__name__ = f"plan_memo_{name}"
    wrapped.__wrapped__ = fn
    return wrapped


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    _REGISTRY[name] = (_plan_memoized(name, fn), sql)


# base-table PLAN memoization (r13 optimization): `spark.read.parquet`
# costs ~90 ms of driver-side analysis (footer schema read + FileIndex
# build) on EVERY call, and a bench pass issues ~2-3 table reads per
# query × 169 queries — tens of seconds of pure plan-build. The memo
# stores the lazy DataFrame (a PLAN, never data or results; every
# execution still scans the parquet), keyed by the corpus fingerprint
# so a regenerated fixture gets a fresh read — stricter than the
# session-keyed data caches below.
_T_CACHE: dict[tuple[str, str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Contract for every events consumer below: `ts` is int64 epoch
        # NANOS. Driver testdata has shipped the column both as
        # TIMESTAMP(NANOS) (needs nanosAsLong to land as long) and as
        # TIMESTAMP(MICROS) (normalized after the read, below). Both
        # confs are runtime-settable; checked per call (cheap) rather
        # than memoized — the timezone matters at EXECUTION time, not
        # just at plan time. Session timezone is pinned to UTC because
        # Spark's NTZ→instant conversion goes through the SESSION zone
        # (to_utc_timestamp can't bypass it: its NTZ input is first
        # implicitly cast via the session zone) — with UTC the epoch
        # equals DuckDB's timezone-independent epoch_ns() on naive data.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (_skey(spark), sf_dir, name, _corpus_sig(sf_dir, name))
    if key not in _T_CACHE:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and not isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
            )
        _T_CACHE[key] = df
    return _T_CACHE[key]


# memoized partition counts for _fanout's gate (the count is a
# driver-only file-split probe; asking the RDD each call would rebuild
# the physical plan)
_NPART_CACHE: dict[tuple[str, str, str], int] = {}


def _fanout(
    spark: SparkSession,
    df: DataFrame,
    key: tuple[str, str],
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Gated equalizer for under-split LOCAL scans (the `_docs_par`
    pattern, generalized): the local fixtures are ONE parquet file each
    = one input split, so explode/aggregate/probe stages over them run
    on a single core while the rest idle. When the scan provides fewer
    partitions than cores, fan out with one tiny round-robin exchange;
    on a cluster corpus (many files >= cores) the gate never fires and
    the shipped plan is the 100 TB plan verbatim. ``key`` names the
    (table, sf_dir) the count is memoized under. ``by`` hash-partitions
    on those columns instead of round-robin so a downstream aggregation
    keyed on a superset of them can reuse the exchange."""
    par = spark.sparkContext.defaultParallelism
    k = (_skey(spark),) + key
    if k not in _NPART_CACHE:
        _NPART_CACHE[k] = df.rdd.getNumPartitions()
    if _NPART_CACHE[k] >= par:
        return df
    return df.repartition(par, *by) if by else df.repartition(par)


# BM25 'index build' memoized per (session, corpus). The postings are
# PERSISTED as a term-bucketed table and every query reads that layout —
# the serialization sink IS the serving path (like the reference's on-disk
# inverted index, bm25_index.go:423+): a session that finds the artifact
# already built skips the corpus tokenize/shuffle entirely, and each
# query's literal-term isin prunes the scan to its terms' buckets. At
# 100 TB the build shuffle is the dominant BM25 cost; paying it once per
# CORPUS (not once per session) is the difference that matters.
_BM25_CACHE: dict[tuple[str, str], BM25] = {}
_BM25_BUCKETS = 16


def _corpus_sig(sf_dir: str, table: str) -> str:
    """Cheap change-detector for a testdata table: file names + sizes +
    mtimes. Guards cross-session reuse of derived artifacts — the driver
    can regenerate testdata between rounds, and serving a stale index
    against a fresh corpus must be impossible. Handles BOTH layouts the
    driver has shipped: a parquet DIRECTORY (walked) and a single
    parquet FILE (os.walk on a non-directory yields nothing, which
    would have made every signature '' and the guard vacuous). An empty
    signature (missing table) never validates — callers treat '' as
    stale. ``table`` may name several tables joined with '+'
    (``"documents+embeddings"`` for artifacts derived from both — the
    unified doc stream): any missing member voids the WHOLE signature,
    so a partial regen still re-routes into the rebuild."""
    if "+" in table:
        subs = [_corpus_sig(sf_dir, t) for t in table.split("+")]
        return "" if any(s == "" for s in subs) else "||".join(subs)
    root = f"{sf_dir}/{table}.parquet"
    paths = []
    if os.path.isdir(root):
        for dirpath, _, files in sorted(os.walk(root)):
            paths.extend(os.path.join(dirpath, f) for f in sorted(files))
    elif os.path.exists(root):
        paths.append(root)
    parts = []
    for p in paths:
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _live_cache_key(
    spark: SparkSession, sf_dir: str, table: str
) -> tuple[str, str, str]:
    """Memo key for per-session caches layered OVER a corpus-signature-
    gated artifact: (session, sf_dir, corpus fingerprint). Keying by the
    fingerprint the scaffold itself validates means a mid-session
    testdata regen rebuilds the artifact AND drops the memoized serving
    view in the same breath — without it the scaffold would rebuild but
    the cache would keep serving the stale view, breaking the
    scaffold's own staleness promise (VERDICT r11). _corpus_sig is a
    stat() walk over one parquet table — microseconds, per query."""
    return (_skey(spark), sf_dir, _corpus_sig(sf_dir, table))


def _evict_superseded(cache: dict, key: tuple, unpersist=None) -> None:
    """Drop cache entries the fingerprint in ``key`` supersedes — same
    (session, sf_dir), different corpus sig (a mid-session fixture
    regen). Without this every regen strands the old entry forever; for
    caches whose values pin executor storage (.cache()'d graph blobs,
    BM25 side tables) ``unpersist(value)`` releases it (review r12 —
    the same leak the soak loop already handles for its iterations)."""
    for k in [k for k in cache if k[:2] == key[:2] and k != key]:
        val = cache.pop(k)
        if unpersist is not None:
            try:
                unpersist(val)
            except Exception:  # noqa: BLE001 — eviction is best-effort
                pass


def _pin_view(pair):
    """cache() the view half of an ``(index, view DataFrame)`` serving
    pair (r14): the live/CRUD serving views are unions + newest-wins
    windows + delete anti-joins over committed components, re-resolved
    on EVERY execution otherwise — pinning the committed snapshot is
    the doc_serving_views/BM25-side-table convention (the reference's
    in-memory read side), semantics-transparent by construction."""
    ix, view = pair
    return ix, view.cache()


def _unpin_view(pair) -> None:
    pair[1].unpersist()


# --- ANN artifact build-once scaffold (r14, VERDICT r13 #4) ---------------
# The BM25 index already pays its corpus-wide build once per CORPUS
# (signature-stamped artifact, _fresh_bm25_artifact); the trained ANN
# models (IVF centroids, PQ/IVFPQ codebooks, the maintenance stores) were
# still retrained every SESSION — 2-10 s of k-means + encode + write per
# family on the driver's cold pass. Training is deterministic (seedless
# uniform-spacing k-means init over id order), and the on-disk artifacts
# are the single source of truth both engines replay, so reopening a
# signature-fresh artifact is value-identical to rebuilding it. The stamp
# is written LAST, so a crash mid-build re-routes the next session into
# the rebuild; probing a reader keeps a partially-cleaned artifact from
# turning into per-query failures.


def _ann_sig_fresh(sf_dir: str, base: str, table: str = "embeddings") -> bool:
    sig = _corpus_sig(sf_dir, table)
    try:
        with open(f"{base}/corpus_sig.txt") as fh:
            return sig != "" and fh.read() == sig
    except OSError:
        return False


def _ann_sig_stamp(sf_dir: str, base: str, table: str = "embeddings") -> None:
    sig = _corpus_sig(sf_dir, table)
    if sig == "":  # missing table must never stamp a valid artifact
        return
    os.makedirs(base, exist_ok=True)
    with open(f"{base}/corpus_sig.txt", "w") as fh:
        fh.write(sig)


def _probe_export_done(
    spark: SparkSession, sf_dir: str, path: str, table: str = "embeddings"
) -> bool:
    """True when a lazily-written probe/LUT export at ``path`` is already
    on disk for THIS corpus — its own .sig stamp (written after the
    parquet) matches and the parquet reads. Such exports are pure
    functions of (trained model, pinned query vector), both derived from
    ``table``, so a fresh stamp means the bytes are already right."""
    sig = _corpus_sig(sf_dir, table)
    try:
        with open(f"{path}.sig") as fh:
            if sig == "" or fh.read() != sig:
                return False
        spark.read.parquet(path).first()
        return True
    except Exception:
        return False


def _probe_export_stamp(sf_dir: str, path: str, table: str = "embeddings") -> None:
    sig = _corpus_sig(sf_dir, table)
    if sig == "":
        return
    with open(f"{path}.sig", "w") as fh:
        fh.write(sig)


def _unpersist_graphs(ix) -> None:
    ix.graphs.unpersist()


def _unpersist_bm25(bm) -> None:
    # postings included: it is the corpus-sized table — omitting it
    # would leave the largest block pinned (review r12 pass 2)
    for t in (bm.postings, bm.doc_len, bm.df, bm.stats):
        t.unpersist()


def _fresh_bm25_artifact(
    spark: SparkSession, sf_dir: str, base: str, build_fn,
    read_path: str | None = None, probe_paths: list[str] | None = None,
) -> BM25:
    """Corpus-signature-gated build-once scaffold shared by EVERY BM25
    artifact builder (plain, appended, compacted, deleted, stream-built):
    reopen when the signature matches and the index probes healthy —
    BOTH stats and postings, so a partially-cleaned artifact routes into
    the rebuild, not into per-query failures — else run ``build_fn()``
    (which owns its own cleanup: force_unlock / rmtree) and stamp the
    signature LAST, so a crash mid-build re-routes the next session into
    the rebuild. The doc-/vocab-sized side tables come back cached; the
    postings stay on the bucketed, prunable scan."""
    read_path = base if read_path is None else read_path
    sig = _corpus_sig(sf_dir, "documents")
    sig_path = f"{base}/corpus_sig.txt"
    try:
        # an empty signature (missing table) must never validate
        with open(sig_path) as fh:
            fresh = sig != "" and fh.read() == sig
    except OSError:
        fresh = False
    try:
        if not fresh:
            raise FileNotFoundError(base)
        ix = BM25.read(spark, read_path)
        ix.stats.first()
        ix.postings.first()
        # sibling components the caller serves from (e.g. a mid-stream
        # snapshot) gate freshness too — a partially-cleaned artifact
        # routes into one rebuild, not per-query failures
        for p in probe_paths or []:
            spark.read.parquet(p).first()
    except Exception:
        build_fn()
        ix = BM25.read(spark, read_path)
        os.makedirs(base, exist_ok=True)
        with open(sig_path, "w") as fh:
            fh.write(sig)
    ix.doc_len = ix.doc_len.cache()
    ix.df = ix.df.cache()
    ix.stats = ix.stats.cache()
    return ix


def _bm25_index(spark: SparkSession, sf_dir: str) -> BM25:
    # r14: keyed on the corpus fingerprint (the _live_cache_key
    # convention, VERDICT r13 #6) — a mid-session testdata regen must
    # re-route into _fresh_bm25_artifact's rebuild instead of serving
    # the previous corpus's cached side tables
    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _BM25_CACHE:
        _evict_superseded(_BM25_CACHE, key, _unpersist_bm25)
        base = f"{_art_dir(sf_dir)}/bm25"

        def build() -> None:
            # a crashed previous build can leave the index writer-lock
            # marker; this builder is the artifact dir's single writer,
            # so a marker here is always stale — clear it before the
            # rebuild instead of failing every query until a human does
            BM25.force_unlock(spark, base)
            bld = BM25(
                _t(spark, sf_dir, "documents"), id_col="doc_id",
                text_col="text", cache=True,
            )
            bld.write(base, buckets=_BM25_BUCKETS)
            for t in (bld.postings, bld.doc_len, bld.df, bld.stats):
                t.unpersist()

        _BM25_CACHE[key] = _fresh_bm25_artifact(spark, sf_dir, base, build)
    return _BM25_CACHE[key]


# the vector corpus is cached once per session like the reference's
# in-memory index (flat_index.go holds vectors in RAM); ~40 queries share
# it; fingerprint-keyed so a mid-session regen drops the stale cache (r14)
_EMB_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _emb_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _EMB_CACHE:
        _evict_superseded(_EMB_CACHE, key, lambda df: df.unpersist())
        _EMB_CACHE[key] = (
            _t(spark, sf_dir, "embeddings")
            .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"), "label")
            .cache()
        )
    return _EMB_CACHE[key]


def _emb_queries(spark: SparkSession, sf_dir: str, vec_ids: tuple[int, ...]) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isin(list(vec_ids))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


# --- DuckDB SQL fragments ---------------------------------------------------

# element-wise over DOUBLE[] columns; mirrors comet_spark.functions.vector
def _sql_l2sq(v: str, q: str) -> str:
    return f"list_sum(list_transform(range(1, len({q})+1), i -> ({v}[i]-{q}[i])*({v}[i]-{q}[i])))"


def _sql_l2(v: str, q: str) -> str:
    return f"sqrt({_sql_l2sq(v, q)})"


def _sql_dot(v: str, q: str) -> str:
    return f"list_sum(list_transform(range(1, len({q})+1), i -> {v}[i]*{q}[i]))"


def _sql_cos(v: str, q: str) -> str:
    sim = f"({_sql_dot(v, q)})/(sqrt({_sql_dot(v, v)})*sqrt({_sql_dot(q, q)}))"
    return f"1.0 - greatest(-1.0, least(1.0, {sim}))"


_SQL_METRIC = {"l2": _sql_l2, "l2sq": _sql_l2sq, "cosine": _sql_cos}

# DuckDB twin of comet_spark.functions.text.tokenize (native UAX#29 word
# projection): two consuming replace passes per joiner class tag in-word
# punctuation with the same private-use marker, then one extract pulls
# marker-joined tokens and a wordlike filter drops punctuation-only
# segments. Must stay expression-for-expression in sync with text.py.
_TOKEN_MARK = "\ue000"
_SQL_TOKENIZE = (
    "list_filter(list_transform(regexp_extract_all("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower({col}), "
    "'(\\p{{L}}\\p{{M}}*)([:.''])(\\p{{M}}*\\p{{L}})', "
    "'\\1" + _TOKEN_MARK + "\\2\\3', 'g'), "
    "'(\\p{{L}}\\p{{M}}*)([:.''])(\\p{{M}}*\\p{{L}})', "
    "'\\1" + _TOKEN_MARK + "\\2\\3', 'g'), "
    "'(\\p{{N}}\\p{{M}}*)([.,;''])(\\p{{M}}*\\p{{N}})', "
    "'\\1" + _TOKEN_MARK + "\\2\\3', 'g'), "
    "'(\\p{{N}}\\p{{M}}*)([.,;''])(\\p{{M}}*\\p{{N}})', "
    "'\\1" + _TOKEN_MARK + "\\2\\3', 'g'), "
    "'[\\p{{L}}\\p{{N}}\\p{{Pc}}][\\p{{L}}\\p{{N}}\\p{{Pc}}\\p{{M}}]*("
    + _TOKEN_MARK
    + "[:.'',;]\\p{{M}}*[\\p{{L}}\\p{{N}}\\p{{Pc}}]"
    "[\\p{{L}}\\p{{N}}\\p{{Pc}}\\p{{M}}]*)*', 0), "
    "t -> replace(t, '" + _TOKEN_MARK + "', '')), "
    "t -> regexp_matches(t, '[\\p{{L}}\\p{{N}}]'))"
)


def _sql_knn_cte(metric: str, where: str = "TRUE") -> str:
    """CTEs: q (query vector), e (docs), d (scored)."""
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {where}),
d AS (SELECT e.vec_id, ROUND({_SQL_METRIC[metric]('e.v', 'q.qv')}, 6) AS score FROM e, q)
"""


# ---------------------------------------------------------------------------
# A1/H1-H3/F1-F4 — flat exact k-NN (single query, three metrics)
# ---------------------------------------------------------------------------

def _mk_knn(metric: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # r14: the pinned query vector is driver-held (memoized once per
        # session) — the literal path drops the one-row broadcast cross
        # join AND the per-qid window pair from every serving call
        res = knn(
            _emb_docs(spark, sf_dir),
            None,
            k=K,
            metric=metric,
            literal_query=_hybrid_qvec(spark, sf_dir),
        )
        return res.select(F.col("id").alias("vec_id"), "score")

    return fn


for _metric in ("l2", "l2sq", "cosine"):
    _register(
        f"knn_{_metric}",
        _mk_knn(_metric),
        f"WITH {_sql_knn_cte(_metric)} "
        f"SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}",
    )


# B14 — distance threshold / range search (k=0 → all matches)
def _range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = knn(
        _emb_docs(spark, sf_dir),
        None,
        k=0,
        metric="l2",
        threshold=RANGE_THRESHOLD,
        literal_query=_hybrid_qvec(spark, sf_dir),
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "range_search_l2",
    _range_search,
    f"WITH {_sql_knn_cte('l2')} "
    f"SELECT vec_id, score FROM d WHERE score <= {RANGE_THRESHOLD}",
)


# C4/D1-D3 — multi-query k-NN with Sum/Mean score aggregation
def _mk_knn_multi(agg: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        per_q = knn(
            _emb_docs(spark, sf_dir),
            _emb_queries(spark, sf_dir, MULTI_QIDS),
            k=K,
            metric="l2",
        )
        res = knn_aggregate(per_q, k=K, agg=agg, ascending=True)
        return res.select(F.col("id").alias("vec_id"), "score")

    return fn


def _sql_knn_multi(agg_sql: str) -> str:
    qids = ", ".join(str(q) for q in MULTI_QIDS)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN ({qids})),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT q.qid, e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q),
topk AS (SELECT qid, vec_id, score FROM
         (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn FROM d)
         WHERE rn <= {K})
SELECT vec_id, ROUND({agg_sql}, 6) AS score FROM topk GROUP BY vec_id
ORDER BY score, vec_id LIMIT {K}
"""


_register("knn_multi_sum", _mk_knn_multi("sum"), _sql_knn_multi("sum(score)"))
_register("knn_multi_mean", _mk_knn_multi("mean"), _sql_knn_multi("avg(score)"))
_register("knn_multi_max", _mk_knn_multi("max"), _sql_knn_multi("max(score)"))


# C1/B13 — metadata prefilter pushed below the scan (semi-join semantics)
def _knn_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = knn(
        _emb_docs(spark, sf_dir),
        None,
        k=K,
        metric="l2",
        prefilter=F.col("label").isin(list(PREFILTER_LABELS)),
        literal_query=_hybrid_qvec(spark, sf_dir),
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "knn_prefilter",
    _knn_prefilter,
    f"WITH {_sql_knn_cte('l2', where=f'label IN {PREFILTER_LABELS}')} "
    f"SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}",
)


# §2.L WithNode — more-like-this through the fluent builder
def _more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = Corpus(_emb_docs(spark, sf_dir), metric="l2")
    res = corpus.vector_search().with_node(MLT_NODE_ID).with_k(K).execute()
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "more_like_this",
    _more_like_this,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {MLT_NODE_ID}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, ROUND(sum(score), 6) AS score FROM
  (SELECT * FROM d ORDER BY score, vec_id LIMIT {K})
GROUP BY vec_id ORDER BY score, vec_id LIMIT {K}
""",
)


# ---------------------------------------------------------------------------
# A6/D5/D6/H6/H7 — BM25
# ---------------------------------------------------------------------------

def _sql_bm25_ctes(corpus_where: str = "TRUE", table: str = "documents") -> str:
    """``corpus_where`` restricts the corpus the statistics are computed
    over (used by the delete-lifecycle oracle: a soft-deleted doc must
    vanish from df/n_docs/avgdl too, exactly as if it was never built);
    ``table`` swaps the source relation (a CTE that rewrites payloads —
    the stream-CRUD merge oracle scores a corpus with upsert-modified
    text, not the raw documents view)."""
    tok = _SQL_TOKENIZE.format(col="text")
    w, t = corpus_where, table
    return f"""
tok AS (SELECT doc_id AS id, unnest({tok}) AS term FROM {t} WHERE {w}),
tf AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY id, term),
dl AS (SELECT id, count(*)::DOUBLE AS dl FROM tok GROUP BY id),
dft AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
st AS (SELECT (SELECT count(*) FROM {t} WHERE {w})::DOUBLE AS n_docs,
              (SELECT sum(coalesce(dl, 0)) FROM {t} LEFT JOIN dl ON doc_id = id WHERE {w})
              / (SELECT count(*) FROM {t} WHERE {w}) AS avgdl)
"""


def _sql_bm25_score(query: str, cand_where: str = "TRUE", suffix: str = "") -> str:
    """CTE ``sc{suffix}`` = (id, score) BM25 scores for a constant query."""
    terms: dict[str, int] = {}
    for t in tokenize_py(query):
        terms[t] = terms.get(t, 0) + 1
    vals = ", ".join(f"('{t}', {c}::DOUBLE)" for t, c in terms.items())
    qt, sc = f"qt{suffix}", f"sc{suffix}"
    return f"""
{qt} AS (SELECT * FROM (VALUES {vals}) AS _{qt}(term, qtf)),
{sc} AS (
  SELECT tf.id,
         sum({qt}.qtf * ln((st.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
             * (tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / st.avgdl)))) AS score
  FROM tf JOIN {qt} USING (term) JOIN dl USING (id) JOIN dft USING (term) CROSS JOIN st
  WHERE tf.id IN (SELECT doc_id FROM documents WHERE {cand_where})
  GROUP BY tf.id)
"""


def _bm25_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_index(spark, sf_dir)
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_single",
    _bm25_single,
    f"WITH {_sql_bm25_ctes()}, {_sql_bm25_score(BM25_QUERY)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


def _bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = Corpus(docs, id_col="doc_id", text_col="text", _bm25=_bm25_index(spark, sf_dir))
    res = corpus.text_search().with_query(BM25_QUERY, BM25_QUERY_2).with_k(K).execute()
    return res.select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_multi_sum",
    _bm25_multi,
    f"""
WITH {_sql_bm25_ctes()},
{_sql_bm25_score(BM25_QUERY, suffix='1')},
{_sql_bm25_score(BM25_QUERY_2, suffix='2')},
t1 AS (SELECT id, ROUND(score, 6) AS score FROM sc1 ORDER BY score DESC, id LIMIT {K}),
t2 AS (SELECT id, ROUND(score, 6) AS score FROM sc2 ORDER BY score DESC, id LIMIT {K}),
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
SELECT id AS doc_id, ROUND(sum(score), 6) AS score FROM u GROUP BY id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ J-family maintenance, text side: the persisted index GROWS BY APPEND
# (BM25.append — only the new third of the corpus is tokenized; postings/
# doc_len land as extra segment files inside the bucketed layout, df/stats
# gain per-segment partials that read() merges exactly). The oracle scores
# the FULL corpus from scratch — equality is the maintenance guarantee:
# an appended index is value-identical to a rebuild. Build-once artifact,
# corpus-signature-gated like _bm25_index; the signature is written only
# after the append, so a crash between write() and append() re-routes
# into the build branch.
_BM25_APPEND_CACHE: dict[tuple[str, str], BM25] = {}


def _bm25_append_index(spark: SparkSession, sf_dir: str) -> BM25:
    key = (_skey(spark), sf_dir)
    if key not in _BM25_APPEND_CACHE:
        base = f"{_art_dir(sf_dir)}/bm25_append"

        def build() -> None:
            BM25.force_unlock(spark, base)  # stale lock from a crashed build
            docs = _t(spark, sf_dir, "documents")
            bld = BM25(
                docs.filter(F.col("doc_id") % 3 != 2),
                id_col="doc_id", text_col="text", cache=True,
            )
            bld.write(base, buckets=_BM25_BUCKETS)
            for t in (bld.postings, bld.doc_len, bld.df, bld.stats):
                t.unpersist()
            BM25.append(
                spark, base, docs.filter(F.col("doc_id") % 3 == 2),
                id_col="doc_id", text_col="text",
            )

        _BM25_APPEND_CACHE[key] = _fresh_bm25_artifact(spark, sf_dir, base, build)
    return _BM25_APPEND_CACHE[key]


def _bm25_append_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_append_index(spark, sf_dir)
    return bm.score(BM25_QUERY_2, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_append_score",
    _bm25_append_score,
    f"WITH {_sql_bm25_ctes()}, {_sql_bm25_score(BM25_QUERY_2)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# ★ J-family maintenance, text side, part 2: the appended index is then
# COMPACTED (BM25.compact — postings segments consolidate back to one file
# per bucket, df/stats partials collapse to the single-segment shape) with
# NO re-tokenize; the oracle again scores the full corpus from scratch, so
# equality proves the whole maintain-then-consolidate lifecycle: build →
# append ×3 → compact is value-identical to a fresh build. Reference
# analog: segment compaction, storage_compaction.go:19-114.
_BM25_COMPACT_CACHE: dict[tuple[str, str, str], BM25] = {}


def _bm25_compacted_index(
    spark: SparkSession, sf_dir: str, subdir: str, mod: int,
    delete_where: str | None = None, **compact_kw
) -> BM25:
    """Shared scaffold for the compaction ★s: build on residue 0 of
    ``doc_id % mod``, append the other residues one batch each, then
    ``BM25.compact(**compact_kw)`` — so the persisted artifact exercises
    the whole maintain-then-consolidate lifecycle before any query
    touches it. ``delete_where`` soft-deletes a doc subset (a SQL
    condition over doc_id) BEFORE the compact, so the compact runs under
    a live delete vector."""
    key = (_skey(spark), sf_dir, subdir)
    if key not in _BM25_COMPACT_CACHE:
        base = f"{_art_dir(sf_dir)}/{subdir}"

        def build() -> None:
            BM25.force_unlock(spark, base)  # stale lock from a crashed build
            docs = _t(spark, sf_dir, "documents")
            bld = BM25(
                docs.filter(F.col("doc_id") % mod == 0),
                id_col="doc_id", text_col="text", cache=True,
            )
            bld.write(base, buckets=_BM25_BUCKETS)
            for t in (bld.postings, bld.doc_len, bld.df, bld.stats):
                t.unpersist()
            for m in range(1, mod):
                BM25.append(
                    spark, base, docs.filter(F.col("doc_id") % mod == m),
                    id_col="doc_id", text_col="text",
                )
            if delete_where is not None:
                n_del = BM25.delete(
                    spark, base,
                    docs.filter(delete_where).select("doc_id"),
                    id_col="doc_id",
                )
                if not n_del:
                    raise RuntimeError(
                        f"{subdir} artifact: delete_where matched no docs — "
                        "the delete lifecycle would be vacuous"
                    )
            BM25.compact(spark, base, **compact_kw)
            if delete_where is not None and compact_kw.get("tiered"):
                # non-vacuity: the tiered compact must RETAIN the vector
                # (the oracle equality below proves it is still applied)
                if not os.path.exists(f"{base}/deletes"):
                    raise RuntimeError(
                        f"{subdir} artifact: tiered compact dropped the "
                        "delete vector"
                    )

        _BM25_COMPACT_CACHE[key] = _fresh_bm25_artifact(spark, sf_dir, base, build)
    return _BM25_COMPACT_CACHE[key]


def _bm25_compact_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_compacted_index(spark, sf_dir, "bm25_compact", 4)
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_compact_score",
    _bm25_compact_score,
    f"WITH {_sql_bm25_ctes()}, {_sql_bm25_score(BM25_QUERY)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# ★ J-family maintenance, text side, part 3: same lifecycle but the
# consolidation is SIZE-TIERED (BM25.compact(tiered=True) — real LSM
# levels: per bucket, only the small appended segment files merge and the
# large base file moves across by rename, cost ∝ appended batches, not
# index size). The oracle scores the full corpus from scratch; equality
# proves tiered consolidation preserves exact scoring. A different
# build/append split (fifths, not quarters) keeps the artifact
# independent of bm25_compact_score's.
def _bm25_tiered_compact_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_compacted_index(
        spark, sf_dir, "bm25_tiered_compact", 5, tiered=True
    )
    return bm.score(BM25_QUERY_2, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_tiered_compact_score",
    _bm25_tiered_compact_score,
    f"WITH {_sql_bm25_ctes()}, {_sql_bm25_score(BM25_QUERY_2)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# ★ J-family maintenance, text side, part 5 (J6's text twin): the tiered
# consolidation runs UNDER A LIVE DELETE VECTOR — build thirds, append,
# BM25.delete a 10% doc subset (spanning base and appended segments),
# then compact(tiered=True), which retains the vector (asserted) while
# merging/renaming postings+doc_len files around it. The oracle scores a
# corpus that NEVER CONTAINED the deleted docs (corpus_where) — equality
# proves the deletes stay exactly applied (results, per-term df,
# n_docs/avgdl) across the tiered file surgery. Reference analog: soft
# -delete skip B15 + segment merge, storage_compaction.go:19-114.
_DELETE_WHERE = "doc_id % 10 = 7"
_DELETE_KEEP_SQL = "doc_id % 10 <> 7"


def _bm25_tiered_delete_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_compacted_index(
        spark, sf_dir, "bm25_tiered_delete", 3,
        delete_where=_DELETE_WHERE, tiered=True,
    )
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_tiered_delete_score",
    _bm25_tiered_delete_score,
    f"WITH {_sql_bm25_ctes(_DELETE_KEEP_SQL)}, {_sql_bm25_score(BM25_QUERY)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# ★ J-family maintenance, text side, part 4: the index is built by the
# STREAMING ingest protocol itself (bm25_ingest_stream — foreachBatch
# through Spark's real checkpoint machinery over deterministic
# micro-batches, one store segment + one O(batch) postings append each,
# in-stream tiered compaction every 2nd batch) WITH one injected crash:
# after the first drain, the latest batch's checkpoint commit marker AND
# the index's state log are deleted, so the restarted stream replays
# that batch through the full heal path (_index_batch_state probe →
# committed → marker only). The oracle scores the full corpus from
# scratch — equality proves the stream's append/heal/marker/compact
# protocol produces the exact index a batch build would (reference
# analog: search-after-flush, storage_test.go).
_BM25_STREAM_CACHE: dict[tuple[str, str], BM25] = {}
_STREAM_MOD = 4  # micro-batches per build


def _lose_latest_commit(ckpt: str) -> None:
    """The crash-replay shape: remove the checkpoint's LATEST commit
    marker (and its checksum twin) so a restart with the same checkpoint
    re-runs that micro-batch with its logged file set.

    LOCAL-FS ONLY (``glob``/``os.remove`` on a POSIX checkpoint dir) —
    fine for the oracle artifact builds here, which always run against a
    local checkpoint, but NOT a reusable crash-test utility for object
    storage, where the checkpoint's commit/rename semantics differ."""
    import glob

    commits = sorted(
        (f for f in glob.glob(f"{ckpt}/commits/*") if f.split("/")[-1].isdigit()),
        key=lambda f: int(f.split("/")[-1]),
    )
    if not commits:
        raise RuntimeError(f"no commit markers under {ckpt}/commits")
    os.remove(commits[-1])
    crc = f"{ckpt}/commits/.{commits[-1].split('/')[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)


def _drive_bm25_stream_crash(
    spark: SparkSession, *, src: str, ckpt: str, index_path: str,
    drain, feed_before: list, feed_after: list, replayed_bid: int,
    between_drains=None,
) -> None:
    """Shared crash-drive for the bm25 stream-built artifacts (the
    insert-only and the delete-marker builders — one copy, so the
    crash-injection and log-assert pattern cannot diverge): feed the
    first file batches (one part file each → one micro-batch each),
    drain through the REAL checkpoint machinery, inject the HARD crash
    (latest commit marker lost AND the index's state log deleted), feed
    the rest, drain again, then assert NON-VACUOUSLY that the replay
    heal engaged: the replayed batch's fresh ``done`` row is the heal's
    own write, and the PRIOR batch's rows died with the log — its
    absence proves nothing before the crashed batch was re-delivered.
    Shuffle partitions are scoped down for the drive (per-trigger
    overhead is per-partition; these key spaces are tiny; values are
    partition-invariant). POSIX-local like ``_lose_latest_commit``."""
    import shutil

    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    with _scoped_shuffle_partitions(spark):
        for df in feed_before:
            _add(df)
        drain()
        _lose_latest_commit(ckpt)
        shutil.rmtree(f"{index_path}/_ingest_state", ignore_errors=True)
        if between_drains is not None:
            # the caller's mid-stream leg runs AFTER the injected crash:
            # a reader here sees the post-crash, pre-replay index state
            between_drains()
        for df in feed_after:
            _add(df)
        drain()
    log = {
        (int(r["batch_id"]), r["phase"])
        for r in spark.read.parquet(f"{index_path}/_ingest_state").collect()
    }
    if (replayed_bid, "done") not in log or (replayed_bid - 1, "done") in log:
        raise RuntimeError(
            f"bm25 stream artifact at {index_path}: replay heal did not "
            f"engage: {sorted(log)}"
        )


def _bm25_stream_index(spark: SparkSession, sf_dir: str) -> BM25:
    key = (_skey(spark), sf_dir)
    if key not in _BM25_STREAM_CACHE:
        import shutil

        from comet_spark.storage.store import DocumentStore
        from comet_spark.streaming.ingest import bm25_ingest_stream

        base = f"{_art_dir(sf_dir)}/bm25_stream"
        index_path = f"{base}/index"

        def build() -> None:
            # full rebuild: the checkpoint, source files, store and index
            # are one coupled lineage — remove them together. This whole
            # builder (shutil/os on the checkpoint + _lose_latest_commit)
            # assumes a POSIX-local checkpoint dir — always true for the
            # oracle artifacts, not a portable object-storage harness.
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            src, ckpt = f"{base}/src", f"{base}/ckpt"
            docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
            store = DocumentStore(spark, f"{base}/store", id_col="doc_id")

            def _drain() -> None:
                q = bm25_ingest_stream(
                    spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src),
                    store, index_path, checkpoint=ckpt,
                    id_col="doc_id", text_col="text", buckets=_BM25_BUCKETS,
                    tiered_compact_every=2,
                )
                if not q.awaitTermination(600):
                    q.stop()
                    raise RuntimeError("bm25_stream artifact: stream did not drain")

            res = lambda m: docs.filter(F.col("doc_id") % _STREAM_MOD == m)  # noqa: E731
            # crash after batches {0,1}: batch 1 replays through the
            # index-probe heal; the final index must carry batch 0's
            # docs from BEFORE the crash
            _drive_bm25_stream_crash(
                spark, src=src, ckpt=ckpt, index_path=index_path,
                drain=_drain,
                feed_before=[res(m) for m in range(2)],
                feed_after=[res(m) for m in range(2, _STREAM_MOD)],
                replayed_bid=1,
            )

        _BM25_STREAM_CACHE[key] = _fresh_bm25_artifact(
            spark, sf_dir, base, build, read_path=index_path
        )
    return _BM25_STREAM_CACHE[key]


def _bm25_stream_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_stream_index(spark, sf_dir)
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_stream_score",
    _bm25_stream_score,
    f"WITH {_sql_bm25_ctes()}, {_sql_bm25_score(BM25_QUERY)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# ★ SEARCH WHILE STREAMING, TEXT MODALITY (r11 — the text twin of
# store_live_read_knn; reference: `hybrid_search_index` under
# concurrent Add in the `-race` suite, readers fan out over segments
# while the writer flushes, storage.go:489-629): BM25 is scored over
# the STREAM-BUILT index BETWEEN the drains — after the injected hard
# crash (lost commit + state log deleted), so the mid-read serves the
# post-crash, pre-replay index whose latest batch committed its
# postings but not its checkpoint. The mid answer is captured during
# the drive; the oracle recomputes it as BM25 SQL over data-fed-so-far
# (residues {0,1} of doc_id % 4) with the per-subset statistics
# (df/n_docs/avgdl over the fed corpus ONLY — a reader that mixed in
# unfed docs' stats would shift every score). 'final' is scored LIVE
# off the finished index at query time.
_BM25_LIVE_CACHE: dict[tuple[str, str, str], BM25] = {}


def _bm25_live_index(spark: SparkSession, sf_dir: str) -> BM25:
    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _BM25_LIVE_CACHE:
        _evict_superseded(_BM25_LIVE_CACHE, key, _unpersist_bm25)
        import shutil

        from comet_spark.storage.store import DocumentStore
        from comet_spark.streaming.ingest import bm25_ingest_stream

        base = f"{_art_dir(sf_dir)}/bm25_live"
        index_path = f"{base}/index"

        def build() -> None:
            # POSIX-local oracle-artifact harness (same contract as the
            # other stream builders)
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            src, ckpt = f"{base}/src", f"{base}/ckpt"
            docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
            store = DocumentStore(spark, f"{base}/store", id_col="doc_id")

            def _drain() -> None:
                q = bm25_ingest_stream(
                    spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src),
                    store, index_path, checkpoint=ckpt,
                    id_col="doc_id", text_col="text", buckets=_BM25_BUCKETS,
                    tiered_compact_every=2,
                )
                if not q.awaitTermination(600):
                    q.stop()
                    raise RuntimeError(
                        "bm25_live artifact: stream did not drain"
                    )

            res = lambda m: docs.filter(F.col("doc_id") % _STREAM_MOD == m)  # noqa: E731

            def _mid_read() -> None:
                # THE MID-STREAM READ: score the live index between the
                # drains; it must hold exactly the fed residues {0,1}
                bm = BM25.read(spark, index_path)
                n_fed = docs.filter(F.col("doc_id") % _STREAM_MOD <= 1).count()
                n_idx = bm.doc_len.count()
                if not (0 < n_idx == n_fed < docs.count()):
                    raise RuntimeError(
                        f"bm25_live artifact: mid-read index holds "
                        f"{n_idx} docs (fed {n_fed}) — not mid-stream"
                    )
                bm.score(BM25_QUERY, k=K).select(
                    F.lit("mid").alias("phase"),
                    F.col("id").alias("doc_id"), "score",
                ).repartition(1).write.mode("overwrite").parquet(
                    f"{base}/mid.parquet"
                )

            _drive_bm25_stream_crash(
                spark, src=src, ckpt=ckpt, index_path=index_path,
                drain=_drain,
                feed_before=[res(m) for m in range(2)],
                feed_after=[res(m) for m in range(2, _STREAM_MOD)],
                replayed_bid=1, between_drains=_mid_read,
            )

        _BM25_LIVE_CACHE[key] = _fresh_bm25_artifact(
            spark, sf_dir, base, build, read_path=index_path,
            probe_paths=[f"{base}/mid.parquet"],
        )
    return _BM25_LIVE_CACHE[key]


def _bm25_live_read_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_live_index(spark, sf_dir)
    base = f"{_art_dir(sf_dir)}/bm25_live"
    mid = spark.read.parquet(f"{base}/mid.parquet").select(
        "phase", "doc_id", "score"
    )
    fin = bm.score(BM25_QUERY, k=K).select(
        F.lit("final").alias("phase"), F.col("id").alias("doc_id"), "score"
    )
    return mid.unionByName(fin)


_register(
    "bm25_live_read_score",
    _bm25_live_read_score,
    f"""
SELECT * FROM (
  WITH {_sql_bm25_ctes(f"doc_id % {_STREAM_MOD} <= 1").strip().rstrip(',')},
  {_sql_bm25_score(BM25_QUERY).strip().rstrip(',')}
  SELECT 'mid' AS phase, id AS doc_id, ROUND(score, 6) AS score FROM sc
  ORDER BY score DESC, id LIMIT {K})
UNION ALL
SELECT * FROM (
  WITH {_sql_bm25_ctes().strip().rstrip(',')},
  {_sql_bm25_score(BM25_QUERY).strip().rstrip(',')}
  SELECT 'final' AS phase, id AS doc_id, ROUND(score, 6) AS score FROM sc
  ORDER BY score DESC, id LIMIT {K})
""",
)


# ★ TEXT-INDEX DELETES VIA THE STREAM (r10 — the text twin of
# store_stream_delete, reference Remove on the shared write path,
# bm25_index.go:253-278): delete markers ride bm25_ingest_stream's
# micro-batches through `op_col` — per batch the inserts run the full
# state-log protocol, then the markers apply as DocumentStore.delete +
# BM25.delete, both idempotent, re-run at the tail of EVERY replay
# path. The drive: residues {0,1} insert, batch 2 carries residue-2
# inserts PLUS markers for already-indexed residue-{0,1} docs, and the
# injected crash (lost commit AND state log deleted — the hard case)
# replays exactly that mixed batch: the restart must classify the
# insert side committed via the index probe AND re-apply the deletes
# as a structural no-op (asserted: the vector holds the marker set
# exactly ONCE). Batch 3 inserts more docs after the deletes, and
# in-stream tiered compacts (every 2 batches) retain the vector.
# Oracle = BM25 over the corpus MINUS the deleted docs — equality
# proves the read-path corrections (results, per-term df, n_docs,
# avgdl) hold on a stream-built, crash-replayed, in-stream-compacted,
# delete-vectored index.
_BM25_DELSTREAM_WHERE = "doc_id % 4 < 2 AND doc_id % 7 = 1"
_BM25_DELSTREAM_KEEP_SQL = "NOT (doc_id % 4 < 2 AND doc_id % 7 = 1)"
_BM25_DELSTREAM_CACHE: dict[tuple[str, str], BM25] = {}


def _bm25_delstream_index(spark: SparkSession, sf_dir: str) -> BM25:
    key = (_skey(spark), sf_dir)
    if key not in _BM25_DELSTREAM_CACHE:
        import shutil

        from comet_spark.storage.store import DocumentStore
        from comet_spark.streaming.ingest import bm25_ingest_stream

        base = f"{_art_dir(sf_dir)}/bm25_delstream"
        index_path = f"{base}/index"

        def build() -> None:
            # POSIX-local oracle-artifact harness (same contract as the
            # other stream builders)
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            src, ckpt = f"{base}/src", f"{base}/ckpt"
            docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
            store = DocumentStore(spark, f"{base}/store", id_col="doc_id")

            def _ins(df: DataFrame) -> DataFrame:
                return df.select(
                    "doc_id", "text", F.lit(None).cast("string").alias("op")
                )

            def _drain() -> None:
                q = bm25_ingest_stream(
                    spark.readStream
                    .schema("doc_id bigint, text string, op string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src),
                    store, index_path, checkpoint=ckpt,
                    id_col="doc_id", text_col="text", buckets=_BM25_BUCKETS,
                    tiered_compact_every=2, op_col="op",
                )
                if not q.awaitTermination(600):
                    q.stop()
                    raise RuntimeError(
                        "bm25_delstream artifact: stream did not drain"
                    )

            dels = docs.filter(_BM25_DELSTREAM_WHERE)
            n_del = dels.count()
            if not n_del:
                raise RuntimeError(
                    "bm25_delstream artifact: empty delete set — the "
                    "delete leg would be vacuous"
                )
            res = lambda m: _ins(  # noqa: E731
                docs.filter(F.col("doc_id") % _STREAM_MOD == m)
            )
            # crash after batches {0,1,2}: the latest commit is the
            # DELETE-carrying batch 2 (fresh inserts + markers in one
            # micro-batch) — with the state log gone the restart must
            # classify its insert side committed via the index probe
            # and re-apply its deletes as a no-op
            _drive_bm25_stream_crash(
                spark, src=src, ckpt=ckpt, index_path=index_path,
                drain=_drain,
                feed_before=[
                    res(0), res(1),
                    res(2).unionByName(dels.select(
                        "doc_id",
                        F.lit(None).cast("string").alias("text"),
                        F.lit("delete").alias("op"),
                    )),
                ],
                feed_after=[res(3)],
                replayed_bid=2,
            )
            # replay idempotence is STRUCTURAL: the re-applied deletes
            # must have added nothing — the vector holds the marker set
            # exactly once
            n_vec = spark.read.parquet(f"{index_path}/deletes").count()
            if n_vec != n_del:
                raise RuntimeError(
                    f"bm25_delstream artifact: {n_vec} vector rows for "
                    f"{n_del} markers — the delete replay was not "
                    "idempotent"
                )

        _BM25_DELSTREAM_CACHE[key] = _fresh_bm25_artifact(
            spark, sf_dir, base, build, read_path=index_path
        )
    return _BM25_DELSTREAM_CACHE[key]


def _bm25_stream_delete_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_delstream_index(spark, sf_dir)
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_stream_delete_score",
    _bm25_stream_delete_score,
    f"WITH {_sql_bm25_ctes(_BM25_DELSTREAM_KEEP_SQL)}, {_sql_bm25_score(BM25_QUERY)} "
    f"SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}",
)


# batch text retrieval: 50 queries (first 8 tokens of docs 0..49) scored in
# ONE job — the text-side twin of knn_batch100
N_TEXT_QUERIES = 50


def _bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tok(spark, sf_dir)
    qterms = (
        docs.filter(F.col("doc_id") < N_TEXT_QUERIES)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(F.slice(F.col("__toks"), 1, 8)).alias("term"),
        )
        .groupBy("qid", "term")
        .agg(F.count("*").cast("double").alias("qtf"))
    )
    res = _bm25_index(spark, sf_dir).score_batch(qterms, k=K)
    return res.select("qid", F.col("id").alias("doc_id"), "score")


_register(
    "bm25_batch50",
    _bm25_batch,
    f"""
WITH {_sql_bm25_ctes()},
qt AS (SELECT doc_id AS qid, term, count(*)::DOUBLE AS qtf
       FROM (SELECT doc_id, unnest(({_SQL_TOKENIZE.format(col='text')})[1:8]) AS term
             FROM documents WHERE doc_id < {N_TEXT_QUERIES})
       GROUP BY qid, term),
sc AS (SELECT qt.qid, tf.id,
              sum(qt.qtf * ln((st.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
                  * (tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / st.avgdl)))) AS score
       FROM tf JOIN qt USING (term) JOIN dl USING (id) JOIN dft USING (term) CROSS JOIN st
       GROUP BY qt.qid, tf.id)
SELECT qid, id AS doc_id, score FROM
  (SELECT qid, id, ROUND(score, 6) AS score,
          row_number() OVER (PARTITION BY qid ORDER BY ROUND(score, 6) DESC, id) AS rn
   FROM sc)
WHERE rn <= {K}
""",
)


# ---------------------------------------------------------------------------
# §3.2 hybrid search — metadata prefilter + vector + BM25 + fusion
# ---------------------------------------------------------------------------

# the docs⋈embeddings hybrid corpus is cached once per (session, corpus):
# every hybrid query shares one materialized join instead of re-joining
# per call (the reference's facade holds one in-memory index the same way)
_HYB_DOCS_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _hybrid_corpus(spark: SparkSession, sf_dir: str) -> Corpus:
    key = _live_cache_key(spark, sf_dir, "documents+embeddings")
    if key not in _HYB_DOCS_CACHE:
        _evict_superseded(_HYB_DOCS_CACHE, key, lambda df: df.unpersist())
        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        _HYB_DOCS_CACHE[key] = docs.join(
            emb, docs["doc_id"] == emb["vec_id"], "left"
        ).select(
            docs["doc_id"].alias("id"),
            emb["embedding"].alias("vector"),
            docs["text"],
            docs["lang"],
            docs["source"],
        ).cache()
    return Corpus(_HYB_DOCS_CACHE[key], metric="l2", _bm25=_bm25_index(spark, sf_dir))


_QVEC_CACHE: dict[tuple[str, str, str], list[float]] = {}


def _hybrid_qvec(spark: SparkSession, sf_dir: str) -> list[float]:
    # memoized per (session, corpus fingerprint): ~20 hybrid queries each
    # paid a separate .head() Spark job for the SAME immutable testdata
    # row (optimization guide §1.2 — don't recompute what you throw
    # away); the fingerprint key (r14, VERDICT r13 #6) drops the vector
    # when a mid-session regen replaces the embeddings table
    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _QVEC_CACHE:
        _evict_superseded(_QVEC_CACHE, key)
        row = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == QUERY_VEC_ID)
            .select("embedding")
            .head()
        )
        _QVEC_CACHE[key] = [float(x) for x in row[0]]
    return list(_QVEC_CACHE[key])


def _mk_hybrid(kind: str, **kwargs) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        corpus = _hybrid_corpus(spark, sf_dir)
        hs = (
            corpus.hybrid_search()
            .with_vector(_hybrid_qvec(spark, sf_dir))
            .with_text(BM25_QUERY)
            .with_metadata(Eq(Field("lang"), HYBRID_LANG))
            .with_k(K)
            .with_fusion(kind, **kwargs)
        )
        return hs.execute().select(F.col("id").alias("doc_id"), "score")

    return fn


def _sql_hybrid_ctes() -> str:
    """vres/tres = per-modality rounded top-k over lang-filtered candidates."""
    cand = f"lang = '{HYBRID_LANG}'"
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
ev AS (SELECT d.doc_id AS id, e.embedding::DOUBLE[] AS v
       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id WHERE d.{cand}),
vd AS (SELECT ev.id, ROUND({_sql_l2('ev.v', 'q.qv')}, 6) AS score FROM ev, q),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=cand)},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K})
"""


_register(
    "hybrid_rrf",
    _mk_hybrid("rrf"),
    f"""
WITH {_sql_hybrid_ctes()},
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)

def _hybrid_ivf_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion over the IVF-PRUNED vector path — the reference
    composes hybrid search with whatever index it wraps
    (``hybrid_search_index.go:326-365``); here ``with_nprobes`` flows
    through HybridSearch so metadata prefilter → partition-pruned IVF
    scan → BM25 → RRF compose in one builder chain. The oracle replays
    the pruned scan from the exported assignment + probe-set artifacts
    (same by-construction scheme as ivf_knn_nprobe2)."""
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "probes_q2")
    if key not in _PROBE_WRITTEN:
        probed = ivf.probe_lists(np.asarray(qvec), 2)
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_q2.parquet",
            [(int(c),) for c in probed], "cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._ivf, corpus._ivf_assigned = ivf, assigned
    hs = (
        corpus.hybrid_search()
        .with_vector(qvec)
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_nprobes(2)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_ivf_rrf",
    _hybrid_ivf_rrf,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf/probes_q2.parquet/*.parquet')),
ev AS (SELECT a.id, a.vector AS v FROM a JOIN p USING (cluster_id)
       JOIN documents d ON d.doc_id = a.id WHERE d.lang = '{HYBRID_LANG}'),
vd AS (SELECT ev.id, ROUND({_sql_l2('ev.v', 'q.qv')}, 6) AS score FROM ev, q),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ hybrid × delete (VERDICT r08 #4): RRF fusion where BOTH legs read
# deleted state — the vector leg is the IVF probed scan with the delete
# set anti-joined via ``exclude_ids`` (the ivf_delete_knn machinery), and
# the text leg scores a DELETE-VECTORED BM25 index (the
# bm25_tiered_delete machinery, built fresh here with this query's own
# delete set). Both legs drop the SAME docs: ``doc_id % 10 = 7`` plus the
# query's own doc (vec_id 0, the probed scan's exact top-1 — so the
# vector-leg exclusion is non-vacuous by construction at every SF, the
# ivf_delete_knn argument). The fused ranks shift when both legs drop
# the same docs — the composition the individually-proved pieces don't
# cover. Oracle: both legs replayed with the keep predicate (the probed
# artifact scan excluded in SQL; the BM25 stats computed over a corpus
# that never contained the deleted docs), then the exact RRF fold.
_HYB_DELETE_WHERE = f"doc_id % 10 = 7 OR doc_id = {QUERY_VEC_ID}"
_HYB_DELETE_KEEP_SQL = f"doc_id % 10 <> 7 AND doc_id <> {QUERY_VEC_ID}"


def _hybrid_delete_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "probes_q2")
    if key not in _PROBE_WRITTEN:  # shared artifact — first toucher writes
        probed = ivf.probe_lists(np.asarray(qvec), 2)
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_q2.parquet",
            [(int(c),) for c in probed], "cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    deleted = assigned.filter(
        f"id % 10 = 7 OR id = {QUERY_VEC_ID}"
    ).select("id")
    vec_res = ivf.search(assigned, qvec, k=K, nprobe=2, exclude_ids=deleted)
    bm = _bm25_compacted_index(
        spark, sf_dir, "bm25_hyb_delete", 3,
        delete_where=_HYB_DELETE_WHERE, tiered=True,
    )
    txt_res = bm.score(BM25_QUERY, k=K)
    return rrf(vec_res, txt_res, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_delete_rrf",
    _hybrid_delete_rrf,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf/probes_q2.parquet/*.parquet')),
vd AS (SELECT a.id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
       FROM a JOIN p USING (cluster_id), q
       WHERE a.id % 10 <> 7 AND a.id <> {QUERY_VEC_ID}),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes(_HYB_DELETE_KEEP_SQL).strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY).strip().rstrip(',')},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


_register(
    "hybrid_weighted",
    _mk_hybrid("weighted_sum", vector_weight=1.0, text_weight=0.5),
    f"""
WITH {_sql_hybrid_ctes()}
SELECT coalesce(vres.id, tres.id) AS doc_id,
       ROUND(coalesce(vres.score * 1.0, 0) + coalesce(tres.score * 0.5, 0), 6) AS score
FROM vres FULL OUTER JOIN tres ON vres.id = tres.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)

_register(
    "hybrid_max",
    _mk_hybrid("max"),
    f"""
WITH {_sql_hybrid_ctes()}
SELECT coalesce(vres.id, tres.id) AS doc_id,
       ROUND(greatest(coalesce(vres.score, tres.score), coalesce(tres.score, vres.score)), 6) AS score
FROM vres FULL OUTER JOIN tres ON vres.id = tres.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)

_register(
    "hybrid_min",
    _mk_hybrid("min"),
    f"""
WITH {_sql_hybrid_ctes()}
SELECT vres.id AS doc_id, ROUND(least(vres.score, tres.score), 6) AS score
FROM vres JOIN tres ON vres.id = tres.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _hybrid_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterGroups through the hybrid builder: (lang='en' AND source='src1')
    OR (lang='de') candidates → vector + BM25 → RRF."""
    corpus = _hybrid_corpus(spark, sf_dir)
    groups = Where(Eq(Field("lang"), "en"), Eq(Field("source"), "src1")).Or(
        Eq(Field("lang"), "de")
    )
    hs = (
        corpus.hybrid_search()
        .with_vector(_hybrid_qvec(spark, sf_dir))
        .with_text(BM25_QUERY)
        .with_metadata_groups(groups)
        .with_k(K)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


def _sql_hybrid_groups_ctes() -> str:
    cand = "((lang = 'en' AND source = 'src1') OR lang = 'de')"
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
ev AS (SELECT d.doc_id AS id, e.embedding::DOUBLE[] AS v
       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id WHERE {cand}),
vd AS (SELECT ev.id, ROUND({_sql_l2('ev.v', 'q.qv')}, 6) AS score FROM ev, q),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=cand)},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K})
"""


_register(
    "hybrid_filter_groups",
    _hybrid_groups,
    f"""
WITH {_sql_hybrid_groups_ctes()},
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _bm25_multi_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 text Max aggregation across two queries (sort desc)."""
    bm = _bm25_index(spark, sf_dir)
    both = bm.score(BM25_QUERY, k=K).unionByName(bm.score(BM25_QUERY_2, k=K))
    res = knn_aggregate(both, k=K, agg="max", ascending=False)
    return res.select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_multi_max",
    _bm25_multi_max,
    f"""
WITH {_sql_bm25_ctes()},
{_sql_bm25_score(BM25_QUERY, suffix='1')},
{_sql_bm25_score(BM25_QUERY_2, suffix='2')},
t1 AS (SELECT id, ROUND(score, 6) AS score FROM sc1 ORDER BY score DESC, id LIMIT {K}),
t2 AS (SELECT id, ROUND(score, 6) AS score FROM sc2 ORDER BY score DESC, id LIMIT {K}),
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
SELECT id AS doc_id, ROUND(max(score), 6) AS score FROM u GROUP BY id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _hybrid_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _hybrid_corpus(spark, sf_dir)
    hs = (
        corpus.hybrid_search()
        .with_metadata(Eq(Field("lang"), "de"), Eq(Field("source"), "src4"))
        .with_k(K)
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_metadata_only",
    _hybrid_metadata_only,
    f"SELECT doc_id, 1.0::DOUBLE AS score FROM documents WHERE lang = 'de' AND source = 'src4' "
    f"ORDER BY doc_id LIMIT {K}",
)


# ---------------------------------------------------------------------------
# §2.B metadata filter DSL on `part` (×100 quantization + NULL semantics)
# ---------------------------------------------------------------------------

# derived nullable columns, identical in Spark and SQL:
#   cat_opt = CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_brand END
#   num_opt = CASE WHEN p_size % 4 = 0 THEN NULL ELSE p_retailprice END
def _part_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
        F.when(F.col("p_size") % 3 == 0, F.lit(None)).otherwise(F.col("p_brand")).alias("cat_opt"),
        F.when(F.col("p_size") % 4 == 0, F.lit(None)).otherwise(F.col("p_retailprice")).alias("num_opt"),
    )


_SQL_PART_META = """
pm AS (SELECT p_partkey, p_brand, p_type, p_size, p_retailprice,
              CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_brand END AS cat_opt,
              CASE WHEN p_size % 4 = 0 THEN NULL ELSE p_retailprice END AS num_opt
       FROM part)
"""


def _meta_filter_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = _part_meta(spark, sf_dir)
    pred = Where(
        Eq(Field("p_brand"), "Brand#13"), Gt(NumField("p_retailprice"), 1500.0)
    ).Or(
        In(Field("p_type"), ("ECONOMY ANODIZED STEEL", "STANDARD POLISHED TIN")),
        Between(NumField("p_size", quantize=False), 10, 30),
    )
    return pm.filter(pred.expr()).select("p_partkey")


_register(
    "meta_filter_groups",
    _meta_filter_groups,
    f"""
WITH {_SQL_PART_META}
SELECT p_partkey FROM pm
WHERE (p_brand = 'Brand#13' AND CAST(TRUNC(p_retailprice*100) AS BIGINT) > 150000)
   OR (p_type IN ('ECONOMY ANODIZED STEEL', 'STANDARD POLISHED TIN') AND p_size BETWEEN 10 AND 30)
""",
)


def _meta_ne_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = _part_meta(spark, sf_dir)
    return pm.filter(Ne(Field("cat_opt"), "Brand#13").expr()).select("p_partkey")


_register(
    "meta_ne_categorical",
    _meta_ne_categorical,
    # allDocs ANDNOT eq: NULL rows MATCH (metadata_index.go:267-273)
    f"WITH {_SQL_PART_META} SELECT p_partkey FROM pm WHERE cat_opt IS NULL OR cat_opt != 'Brand#13'",
)


def _meta_ne_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = _part_meta(spark, sf_dir)
    return pm.filter(Ne(NumField("num_opt"), 1200.0).expr()).select("p_partkey")


_register(
    "meta_ne_numeric",
    _meta_ne_numeric,
    # existence ANDNOT eq: NULL rows do NOT match (metadata_index.go:341-349)
    f"WITH {_SQL_PART_META} SELECT p_partkey FROM pm "
    f"WHERE num_opt IS NOT NULL AND CAST(TRUNC(num_opt*100) AS BIGINT) != 120000",
)


def _meta_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = _part_meta(spark, sf_dir)
    return pm.filter(NotIn(Field("cat_opt"), ("Brand#13", "Brand#42")).expr()).select("p_partkey")


_register(
    "meta_notin",
    _meta_notin,
    # allDocs ANDNOT union: NULL rows MATCH (metadata_index.go:300-323)
    f"WITH {_SQL_PART_META} SELECT p_partkey FROM pm "
    f"WHERE cat_opt IS NULL OR cat_opt NOT IN ('Brand#13', 'Brand#42')",
)


def _meta_not_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 operator inversion (metadata_index.go:518-543): Not(Gt) ≡ Lte —
    NULL rows excluded either way (numeric comparisons are
    existence-scoped)."""
    from comet_spark.operators.metadata import Gt, Not, NumField

    pm = _part_meta(spark, sf_dir)
    return pm.filter(Not(Gt(NumField("num_opt"), 1600.0)).expr()).select("p_partkey")


_register(
    "meta_not_gt",
    _meta_not_gt,
    f"WITH {_SQL_PART_META} SELECT p_partkey FROM pm "
    f"WHERE num_opt IS NOT NULL AND CAST(TRUNC(num_opt*100) AS BIGINT) <= 160000",
)


def _meta_exists_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pm = _part_meta(spark, sf_dir)
    pred = Where(Exists(Field("cat_opt")), Gt(NumField("num_opt"), 1600.0)).Or(
        NotExists(Field("num_opt"))
    )
    return pm.filter(pred.expr()).select("p_partkey")


_register(
    "meta_exists_groups",
    _meta_exists_groups,
    f"WITH {_SQL_PART_META} SELECT p_partkey FROM pm "
    f"WHERE (cat_opt IS NOT NULL AND CAST(TRUNC(num_opt*100) AS BIGINT) > 160000) "
    f"   OR num_opt IS NULL",
)


def _meta_q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.filter(
        Between(NumField("p_retailprice"), 900.0, 1100.0).expr()
        & Gt(NumField("p_size", quantize=False), 20).expr()
    ).select("p_partkey", q100("p_retailprice").alias("price_q100"))


_register(
    "meta_q100_between",
    _meta_q100,
    "SELECT p_partkey, CAST(TRUNC(p_retailprice*100) AS BIGINT) AS price_q100 FROM part "
    "WHERE CAST(TRUNC(p_retailprice*100) AS BIGINT) BETWEEN 90000 AND 110000 AND p_size > 20",
)


# ---------------------------------------------------------------------------
# E3 — autocut over a k-NN result curve
# ---------------------------------------------------------------------------

def _autocut_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = knn(
        _emb_docs(spark, sf_dir),
        None,
        k=50,
        metric="l2",
        literal_query=_hybrid_qvec(spark, sf_dir),
    ).select(F.col("id"), "score")
    cut = autocut(res, cutoff=1, ascending=True)
    return cut.select(F.col("id").alias("vec_id"), "score")


_register(
    "autocut_knn",
    _autocut_knn,
    f"""
WITH {_sql_knn_cte('l2')},
base AS (SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT 50),
o AS (SELECT vec_id, score,
             row_number() OVER w AS rn,
             count(*) OVER () AS n,
             first_value(score) OVER w AS y0,
             last_value(score) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS yn
      FROM base WINDOW w AS (ORDER BY score, vec_id)),
dd AS (SELECT *, (score - y0)/(yn - y0) - (rn - 1)::DOUBLE/(n - 1) AS diff FROM o),
ee AS (SELECT *,
             CASE WHEN rn = 1 THEN FALSE
                  WHEN rn = n THEN n > 1 AND diff > lag(diff, 1) OVER v AND diff > lag(diff, 2) OVER v
                  ELSE diff > lag(diff, 1) OVER v AND diff > lead(diff, 1) OVER v
             END AS ext
      FROM dd WINDOW v AS (ORDER BY rn)),
cc AS (SELECT *, sum(CASE WHEN coalesce(ext, FALSE) THEN 1 ELSE 0 END)
                 OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       FROM ee),
cut AS (SELECT min(rn) AS cut_rn FROM cc WHERE coalesce(ext, FALSE) AND cum = 1)
SELECT vec_id, score FROM cc, cut WHERE cut.cut_rn IS NULL OR cc.rn < cut.cut_rn
""",
)


# C4 at batch scale — 100 queries × corpus in ONE job (the meaningful
# throughput shape: per-query Spark-job overhead amortizes away; this is
# the headline number BASELINE.md's 45 ms/query flat scan maps onto)
N_BATCH_QUERIES = 100


def _knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # fan the corpus out to all cores for THIS query only: the local
    # corpus is one parquet file, so the shared cache holds one
    # partition — fine for the single-query scans (whose distance fold
    # is sub-task-sized and whose latency is task overhead), but the
    # batch shape evaluates |Q|×|corpus| interpreted HOF folds (~25.6M
    # element ops at sf0.1), which serialized on one core (measured
    # 2.34 s → 1.0 s with the fanout).
    docs = _fanout(spark, _emb_docs(spark, sf_dir), ("emb_cache", sf_dir))
    return knn(docs, qs, k=K, metric="l2").select(
        "qid", F.col("id").alias("vec_id"), "score"
    )


_register(
    "knn_batch100",
    _knn_batch,
    f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT q.qid, e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT qid, vec_id, score FROM
  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn FROM d)
WHERE rn <= {K}
""",
)


# per-group similarity search: top-3 nearest per label partition
def _knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.topk import topk_per_group

    docs = _emb_docs(spark, sf_dir)
    from comet_spark.functions.vector import l2, to_double_array

    # r14: literal query vector — no one-row broadcast cross join
    qv = F.array(*[F.lit(float(x)) for x in _hybrid_qvec(spark, sf_dir)])
    scored = docs.select(
        "label",
        F.col("id"),
        F.round(l2(to_double_array("vector"), qv), 6).alias("score"),
    )
    res = topk_per_group(scored, ["label"], [F.col("score").asc(), F.col("id").asc()], 3)
    return res.select("label", F.col("id").alias("vec_id"), "score")


_register(
    "knn_top3_per_label",
    _knn_per_label,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT e.label, e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT label, vec_id, score FROM
  (SELECT *, row_number() OVER (PARTITION BY label ORDER BY score, vec_id) AS rn FROM d)
WHERE rn <= 3
""",
)


# H9 — int8 symmetric quantizer round-trip error
def _int8_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.functions.quantize import int8_absmax, int8_dequantize, int8_quantize
    from comet_spark.functions.vector import to_double_array

    emb = _t(spark, sf_dir, "embeddings")
    am = int8_absmax(emb, "embedding")
    v = to_double_array("embedding")
    deq = int8_dequantize(int8_quantize(v, am), am)
    max_err = F.aggregate(
        F.zip_with(v, deq, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda s, x: F.greatest(s, x),
    )
    return emb.select("vec_id", F.round(max_err, 6).alias("max_abs_err"))


_register(
    "int8_quant_roundtrip",
    _int8_roundtrip,
    """
WITH am AS (SELECT max(list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))) AS m FROM embeddings),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT vec_id,
             list_max(list_transform(range(1, len(v)+1),
               i -> abs(v[i] - greatest(-127, least(127, round(v[i] * 127.0 / am.m)))::DOUBLE * am.m / 127.0))) AS err
      FROM e, am)
SELECT vec_id, ROUND(err, 6) AS max_abs_err FROM d
""",
)


# H8/H9 as STORAGE MODES (quantizer.go:136-157): flat search over the
# scalar-quantized parquet layout — int8 dequantizes inside the scan
# expression (pure Catalyst), f16 stores squeezed floats at write time
_SQ_CACHE: dict[tuple[str, str, str], object] = {}


def _sq_index(spark: SparkSession, sf_dir: str, mode: str):
    from comet_spark.operators.scalar_quant import ScalarQuantizedIndex

    key = (_skey(spark), sf_dir, mode)
    if key not in _SQ_CACHE:
        ix = ScalarQuantizedIndex.build(_emb_docs(spark, sf_dir), mode)
        base = f"{_art_dir(sf_dir)}/sq_{mode}"
        ix.write(base)
        _SQ_CACHE[key] = ScalarQuantizedIndex.read(spark, base)
    return _SQ_CACHE[key]


def _knn_int8_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _sq_index(spark, sf_dir, "int8").search(_hybrid_qvec(spark, sf_dir), k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


# independent oracle (no artifacts): quantize/dequant is native arithmetic,
# so DuckDB recomputes the whole int8 storage path from the raw table
_SQL_INT8_DEQ = (
    "list_transform({v}, x -> greatest(-127, least(127, "
    "round(x * 127.0 / am.m)))::DOUBLE * am.m / 127.0)"
)

_register(
    "knn_int8_storage",
    _knn_int8_storage,
    f"""
WITH am AS (SELECT max(list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))) AS m FROM embeddings),
q AS (SELECT {_SQL_INT8_DEQ.format(v='embedding::DOUBLE[]')} AS qv FROM embeddings, am WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id, {_SQL_INT8_DEQ.format(v='embedding::DOUBLE[]')} AS v FROM embeddings, am),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _knn_f16_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ix = _sq_index(spark, sf_dir, "float16")
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "f16_q")
    if key not in _PROBE_WRITTEN:
        q16 = [
            float(v)
            for v in np.asarray(qvec, dtype=np.float64).astype(np.float16).astype(np.float64)
        ]
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/sq_float16/q16.parquet",
            [(q16,)], "qv array<double>",
        )
        _PROBE_WRITTEN.add(key)
    res = ix.search(qvec, k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


# by-construction oracle: the stored layout already holds the f16-squeezed
# floats (the squeeze is the only non-SQL step); DuckDB replays the exact
# scan over the written vectors + the exported squeezed query
_register(
    "knn_f16_storage",
    _knn_f16_storage,
    f"""
WITH e AS (SELECT id AS vec_id, qvec::DOUBLE[] AS v
           FROM read_parquet('{_ART01}/sq_float16/vectors.parquet/*.parquet')),
q AS (SELECT qv FROM read_parquet('{_ART01}/sq_float16/q16.parquet/*.parquet')),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ---------------------------------------------------------------------------
# relational analytics on the big tables (Catalyst breadth + sf0.1 weight:
# lineitem is 600k rows there — these are the queries that exercise real
# shuffles, partial aggregation, and broadcast join selection)
# ---------------------------------------------------------------------------

def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(disc_price), 6).alias("sum_disc_price"),
            F.round(F.sum(charge), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_register(
    "pricing_summary",
    _pricing_summary,
    """
SELECT l_returnflag, l_linestatus,
       ROUND(sum(l_quantity), 6) AS sum_qty,
       ROUND(sum(l_extendedprice), 6) AS sum_base_price,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       ROUND(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)


def _shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table join: broadcast the filtered dimension sides into the
    lineitem fact scan (verified BroadcastHashJoin in tests)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])),
                li["l_orderkey"] == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_register(
    "shipping_priority",
    _shipping_priority,
    """
SELECT l_orderkey, o_orderpriority, ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-table join tree (lineitem ⨝ supplier ⨝ nation ⨝ region): the
    dimension chain broadcasts into the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 6).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_register(
    "revenue_by_nation",
    _revenue_by_nation,
    """
SELECT r_name, n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)


def _local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — 6-table join with the correlated 'customer and
    supplier in the SAME nation' predicate: the fact table joins two
    broadcast dimension chains and the equality between them prunes
    cross-nation pairs. Catalyst picks broadcast hash joins throughout;
    the lineitem scan is never shuffled."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # broadcast hints ONLY on the always-tiny dims (nation/region); orders/
    # customer/supplier scale with the fact table, so their join strategy is
    # left to Catalyst + AQE (broadcast at test SF, shuffle join at 100 TB —
    # where lineitem⨝orders co-partitions on the join key)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(
            sup,
            (li["l_suppkey"] == sup["s_suppkey"])
            & (cust["c_nationkey"] == sup["s_nationkey"]),
        )
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 6).alias("revenue"), F.count("*").alias("n_items"))
    )


_register(
    "local_supplier_volume",
    _local_supplier_volume,
    """
SELECT n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)


def _returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top customers by revenue lost to returns in one
    year. The l_returnflag and o_orderdate filters push into the parquet
    scans BEFORE the joins (PushedFilters), nation broadcasts, and the
    top-20 is TakeOrderedAndProject, not a global sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(revenue), 6).alias("revenue"), F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_register(
    "returned_items",
    _returned_items,
    """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)


def _promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share for one month. The month
    filter prunes lineitem at the scan; the part join carries only
    (p_partkey, p_type) thanks to column pruning; the conditional
    aggregate is a single pass (no second scan for the numerator)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                100
                * F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(0.0))
                / F.sum(revenue),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


_register(
    "promo_revenue",
    _promo_revenue,
    """
SELECT ROUND(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
""",
)


def _disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs predicate spanning both join sides.
    Catalyst factors the disjunction: the p_brand/p_size members push to
    the part scan, l_quantity members to the lineitem scan, and only the
    residual cross-side conjunction is evaluated after the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    pred = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(pred).agg(
        F.round(F.sum(revenue), 6).alias("revenue"), F.count("*").alias("n_items")
    )


_register(
    "disjunctive_revenue",
    _disjunctive_revenue,
    """
SELECT ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
""",
)


def _order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelates to a LEFT SEMI join with an
    extra non-equi condition (late shipment: shipped >60 days after the
    order date; the dataset has no commit/receipt dates). The date-range
    filter pushes into the orders scan; the semi join dedups on the fly —
    no distinct, no second shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_register(
    "order_priority_check",
    _order_priority_check,
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


def _late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional CASE aggregation over an
    orders⨝lineitem join with a non-equi late-shipment predicate
    (l_shipmode doesn't exist in this dataset; l_linestatus is the
    group). The CASE counts fold into one partial agg — one shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1997-01-01")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).filter(
        li["l_shipdate"] >= o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_register(
    "late_line_priority",
    _late_line_priority,
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)


def _supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN subquery decorrelates to a LEFT ANTI
    join (suppliers in deficit stand in for the complaints filter; the
    dataset has no partsupp, lineitem links parts to suppliers), then
    count(DISTINCT) per group. The anti side is tiny and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49)
    )
    bad_sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(
            F.broadcast(bad_sup), li["l_suppkey"] == bad_sup["s_suppkey"], "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_register(
    "supplier_cnt_by_part",
    _supplier_cnt_by_part,
    """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)


LARGE_ORDER_QTY = 250


def _large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING over a fact-side pre-aggregation picks
    the ~1% largest orders. r13: the pre-aggregation ALREADY holds each
    qualifying order's quantity sum, so the semi-join back into the
    fact and the re-aggregation (a second full lineitem pass) computed
    a value we had — join the filtered aggregate straight to the
    orders/customer dims instead. One fact shuffle total; the grouping
    re-keyed per (order, customer) exactly the per-order sum anyway
    (l_orderkey → one o_orderkey → one customer)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > LARGE_ORDER_QTY)
    )
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice",
            F.round(F.col("s"), 6).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


_register(
    "large_orders",
    _large_orders,
    f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       ROUND(sum(l_quantity), 6) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > {LARGE_ORDER_QTY})
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
)


def _lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar subquery (average balance, rounded to 6
    so both engines threshold on the same value) + NOT EXISTS anti join
    (customers with no order in the final 18 months; every customer has
    *some* order in this dataset). Anti side is an aggregated key set."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 6).alias("a"))
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-02-01")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 6).alias("totacctbal"),
        )
    )


_register(
    "lapsed_customers",
    _lapsed_customers,
    """
SELECT c_nationkey, count(*) AS numcust, ROUND(sum(c_acctbal), 6) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT ROUND(avg(c_acctbal), 6) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-02-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)


def _customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile segmentation — per-decile customer-value stats over
    total spend (the classic RFM-style cut). One shuffle for the spend
    agg; the ntile window is a single global sort of the small
    aggregate, not the fact table."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 6).alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("spend"), 6).alias("total_spend"),
            F.round(F.min("spend"), 6).alias("min_spend"),
            F.round(F.max("spend"), 6).alias("max_spend"),
        )
    )


_register(
    "customer_deciles",
    _customer_deciles,
    """
WITH spend AS (SELECT o_custkey, ROUND(sum(o_totalprice), 6) AS spend
               FROM orders GROUP BY o_custkey),
d AS (SELECT o_custkey, spend,
             ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      FROM spend)
SELECT decile, count(*) AS n_customers, ROUND(sum(spend), 6) AS total_spend,
       ROUND(min(spend), 6) AS min_spend, ROUND(max(spend), 6) AS max_spend
FROM d GROUP BY decile ORDER BY decile
""",
)


def _segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: order counts per market segment, statuses spread
    to columns. The status list is pinned, so Spark's pivot compiles to
    the same single-pass CASE aggregation the oracle spells out — one
    shuffle, no per-status scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        j.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


_register(
    "segment_status_pivot",
    _segment_status_pivot,
    """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)


def _repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit set-operation coverage (SURVEY §2.G): customers active in
    BOTH 1996 and 1997 (INTERSECT) minus those with a returned item in
    1997 (EXCEPT). Set ops hash-dedup on the key — each is one shuffle
    of an already-aggregated key set, not of the fact table."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def active(year: int) -> DataFrame:
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01"))
        ).select("o_custkey")

    both = active(1996).intersect(active(1997))
    ret_cust = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(li.filter(F.col("l_returnflag") == "R"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey")
    )
    return both.subtract(ret_cust)


_register(
    "repeat_buyers",
    _repeat_buyers,
    """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
ORDER BY o_custkey
""",
)


def _cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated scalar min subquery. Spark
    decorrelates it as a window min over the same partition key (ONE
    shuffle; no self-join back, no re-scan of lineitem), then equality
    on the stored double (no arithmetic → exact tie semantics match the
    correlated form). Part/supplier dims broadcast."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    sup = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_partkey")
    cand = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
    )
    return (
        cand.join(F.broadcast(sup), cand["l_suppkey"] == sup["s_suppkey"])
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.col("l_extendedprice").alias("price"),
        )
    )


_register(
    "cheapest_supplier",
    _cheapest_supplier,
    """
SELECT p_partkey, p_name, s_suppkey, s_name, l_extendedprice AS price
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size = 15
  AND l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem
                         WHERE l_partkey = p_partkey)
ORDER BY p_partkey, s_suppkey, price
""",
)


def _zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit (layout.py): interleave
    (l_partkey, l_suppkey) low bits into one key, tile by the key's high
    bits, and report per-tile min/max of BOTH dimensions — each tile is
    a bounded 16×16 rectangle, the property that makes parquet row-group
    stats prune scans on either column after an OPTIMIZE-ZORDER-style
    rewrite (`df.repartitionByRange(zkey).sortWithinPartitions(zkey)`)."""
    from comet_spark.operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).alias("x")
    y = (F.col("l_suppkey") % 256).alias("y")
    zk = zorder_key([F.col("l_partkey") % 256, F.col("l_suppkey") % 256], bits=8)
    return (
        li.select(x, y, F.shiftright(zk, 8).alias("tile"))
        .groupBy("tile")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
    )


def _sql_zorder() -> str:
    from comet_spark.operators.layout import zorder_key_sql

    return zorder_key_sql(["(l_partkey % 256)", "(l_suppkey % 256)"], bits=8)


_register(
    "zorder_layout_stats",
    _zorder_stats,
    f"""
WITH z AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
                  ({_sql_zorder()}) >> 8 AS tile
           FROM lineitem)
SELECT tile, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY tile ORDER BY tile
""",
)


def _sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers — all four (segment × status)
    aggregation levels in ONE pass (Spark expands grouping sets inside a
    single shuffle; no union of four scans). The reference has no
    grouping sets at all (SURVEY §2.D 'absent'); this is part of the
    analytics surface Spark adds for free."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        j.cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.grouping("c_mktsegment").cast("bigint").alias("g_seg"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_st"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("revenue"),
        )
    )


_register(
    "sales_cube",
    _sales_cube,
    """
SELECT c_mktsegment, o_orderstatus,
       GROUPING(c_mktsegment) AS g_seg, GROUPING(o_orderstatus) AS g_st,
       count(*) AS n_orders, ROUND(sum(o_totalprice), 6) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
ORDER BY g_seg, g_st, c_mktsegment, o_orderstatus
""",
)


def _orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage on a real table: per-customer running
    revenue ordered by date, top spender rows only."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    enriched = o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 6).alias("running_total"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
    )
    return enriched.filter(F.col("order_seq") <= 3)


_register(
    "orders_running_total",
    _orders_running_total,
    """
SELECT o_custkey, o_orderkey,
       ROUND(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_total,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders QUALIFY order_seq <= 3
""",
)


# ---------------------------------------------------------------------------
# §2.I / A2 / A4 / A5 — trained ANN layouts (IVF / PQ / IVFPQ)
# ---------------------------------------------------------------------------

# trained layouts are built once per corpus (like any index) and reused by
# every query against that corpus — memoized per (session, sf_dir).
#
# Trained artifacts (centroids, probe sets, LUTs, codes) are exported to
# parquet under .artifacts/ann/<sf>/ at build time: the partitioned docs
# parquet IS the serving layout (lists = partitions, ivf_index_search.go:
# 277-301), and the side tables let the DuckDB oracle recompute the pruned
# scan exactly — flipping the approximate paths from rows-only checks to
# hash-matched ones.
_IVF_CACHE: dict[tuple[str, str], tuple] = {}


def _write_rows(spark: SparkSession, path: str, rows: list, schema: str) -> None:
    # repartition(1), NOT coalesce(1): coalesce folds the 32 tiny local
    # partitions into ONE task that runs their Python evaluation serially
    # (~5 s for 8 rows); the shuffle keeps it parallel (<1 s)
    spark.createDataFrame(rows, schema).repartition(1).write.mode("overwrite").parquet(path)


def _write_rows_once(
    spark: SparkSession, sf_dir: str, path: str, rows: list, schema: str,
    table: str = "embeddings",
) -> None:
    """Corpus-gated twin of :func:`_write_rows` for the lazy probe/LUT
    exports: the rows are a deterministic function of artifacts derived
    from ``table``, so when a .sig-stamped copy for this corpus is
    already on disk the write job is skipped (r14 cold-path work,
    VERDICT r13 #4). The stamp is written after the parquet — a crash
    between the two re-routes the next session into the rewrite."""
    if _probe_export_done(spark, sf_dir, path, table):
        return
    _write_rows(spark, path, rows, schema)
    _probe_export_stamp(sf_dir, path, table)


def _ivf_trained(spark: SparkSession, sf_dir: str):
    import numpy as np

    from comet_spark.operators.ann import IVFIndex

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVF_CACHE:
        _evict_superseded(_IVF_CACHE, key)
        base = f"{_art_dir(sf_dir)}/ivf"
        ivf = None
        if _ann_sig_fresh(sf_dir, base):
            # signature-fresh artifact: reopen instead of retraining —
            # the centroids/assignment on disk ARE what the oracle
            # replays, and training is deterministic, so this is the
            # build-once convention BM25 already uses (guide §6)
            try:
                rows = sorted(
                    spark.read.parquet(f"{base}/centroids.parquet").collect(),
                    key=lambda r: r["cluster_id"],
                )
                ivf = IVFIndex(np.array([r["centroid"] for r in rows]))
                assigned = spark.read.parquet(f"{base}/assigned.parquet")
                assigned.first()
            except Exception:
                ivf = None
        if ivf is None:
            emb = _emb_docs(spark, sf_dir).select("id", "vector").cache()
            ivf = IVFIndex.train(emb, 8)
            # the disk layout IS the operator at scale: lists are parquet
            # partitions, nprobe filter = partition pruning (no other list's
            # files are read) — asserted on the executed plan in test_plans.py
            ivf.write(ivf.assign(emb), f"{base}/assigned.parquet")
            _write_rows(
                spark, f"{base}/centroids.parquet",
                [(int(i), [float(x) for x in c]) for i, c in enumerate(ivf.centroids)],
                "cluster_id bigint, centroid array<double>",
            )
            emb.unpersist()
            assigned = spark.read.parquet(f"{base}/assigned.parquet")
            _ann_sig_stamp(sf_dir, base)
        _IVF_CACHE[key] = (ivf, assigned)
    return _IVF_CACHE[key]


def _ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe = nlist scans every list → must equal the flat scan
    exactly; that identity is this query's oracle. The partition-pruned
    nprobe < nlist path is covered by ivf_knn_nprobe2 + recall tests."""
    ivf, assigned = _ivf_trained(spark, sf_dir)
    res = ivf.search(assigned, _hybrid_qvec(spark, sf_dir), k=K, nprobe=8)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivf_knn_fullprobe",
    _ivf_fullprobe,
    f"WITH {_sql_knn_cte('l2')} "
    f"SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}",
)


# keys are (session, sf_dir, name) — plus the corpus fingerprint as a
# 4th element for probes layered over fingerprint-gated stream
# artifacts (hnsw_live/hnsw_compact candidates)
_PROBE_WRITTEN: set[tuple[str, ...]] = {*()}


def _ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "probes_q2")
    if key not in _PROBE_WRITTEN:
        probed = ivf.probe_lists(np.asarray(qvec), 2)
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_q2.parquet",
            [(int(c),) for c in probed], "cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    res = ivf.search(assigned, qvec, k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


# the pruned (nprobe < nlist) scan is oracle-checked BY CONSTRUCTION: the
# query exports its trained centroids, probe set, and partitioned layout to
# parquet, and DuckDB recomputes the same pruned scan over those artifacts —
# recall bounds stay asserted in tests/test_ann.py like the reference does
_register(
    "ivf_knn_nprobe2",
    _ivf_nprobe2,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf/probes_q2.parquet/*.parquet')),
d AS (SELECT a.id AS vec_id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
      FROM a JOIN p USING (cluster_id), q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ soft-delete skip on the PRUNED ANN layout (J6 per-index delete,
# reference TestIVFIndexSoftDeleteWithSearch, ivf_index_test.go:716 /
# ivf_index.go:307-400): the exported partition-pruned layout is searched
# with a delete vector — ids anti-joined into the probed candidates
# BEFORE top-k, so deleted docs neither appear nor consume result slots,
# while probe ranking stays delete-oblivious (centroids don't move on
# delete, exactly like the reference's bitmap skip). The deleted set
# includes the QUERY vector's own doc (vec_id 0 — the corpus top-1 at
# every SF, so the skip is non-vacuous by construction): searching BY a
# deleted doc's vector still works, the reference's
# TestHNSWIndexSearchByDeletedNode shape. The oracle replays the same
# probe-set artifact with the exclusion in SQL.
_IVF_DELETE_WHERE = "id % 7 = 0"  # string: module import stays Spark-free
_IVF_DELETE_KEEP_SQL = "a.id % 7 <> 0"


def _ivf_delete_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "probes_q2")
    if key not in _PROBE_WRITTEN:  # same artifact ivf_knn_nprobe2 uses —
        probed = ivf.probe_lists(np.asarray(qvec), 2)  # first toucher writes
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_q2.parquet",
            [(int(c),) for c in probed], "cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    deleted = assigned.filter(_IVF_DELETE_WHERE).select("id")
    res = ivf.search(assigned, qvec, k=K, nprobe=2, exclude_ids=deleted)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivf_delete_knn",
    _ivf_delete_knn,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf/probes_q2.parquet/*.parquet')),
d AS (SELECT a.id AS vec_id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
      FROM a JOIN p USING (cluster_id), q WHERE {_IVF_DELETE_KEEP_SQL})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


_PQ_CACHE: dict[tuple[str, str], tuple] = {}
_IVFPQ_CACHE: dict[tuple[str, str], tuple] = {}


PQ_M = 4


def _sql_adc(codes_tbl: str, lut_tbl: str, extra_on: str = "") -> str:
    """ADC score recomputed from exported LUT artifacts: M explicit joins,
    left-to-right addition — the exact fold order of the Spark expression."""
    joins = "\n".join(
        f"JOIN {lut_tbl} l{s} ON l{s}.sub = {s} AND l{s}.code = c.codes[{s + 1}]{extra_on.format(s=s)}"
        for s in range(PQ_M)
    )
    total = " + ".join(f"l{s}.dist" for s in range(PQ_M))
    return (
        f"SELECT c.id AS vec_id, ROUND(sqrt({total}), 6) AS score FROM {codes_tbl} c\n{joins}"
    )


def _pq_trained(spark: SparkSession, sf_dir: str):
    """Trained PQ + encoded codes, built once per CORPUS (r14): the
    codebooks persist next to the codes artifact (`model/`, new files the
    oracles never read) so a signature-fresh session reopens instead of
    re-running k-means + the encode pass — deterministic train makes the
    two paths value-identical, and the codes the oracle replays are the
    same on-disk bytes either way."""
    from comet_spark.operators.ann import PQIndex

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _PQ_CACHE:
        _evict_superseded(_PQ_CACHE, key)
        base = f"{_art_dir(sf_dir)}/pq"
        pq = None
        if _ann_sig_fresh(sf_dir, base):
            try:
                pq = PQIndex.load(spark, f"{base}/model")
                codes = spark.read.parquet(f"{base}/codes.parquet")
                codes.first()
            except Exception:
                pq = None
        if pq is None:
            emb = _emb_docs(spark, sf_dir).select("id", "vector").cache()
            pq = PQIndex.train(emb, m=PQ_M, nbits=4, max_iter=5)
            codes = pq.encode(emb)
            codes.write.mode("overwrite").parquet(f"{base}/codes.parquet")
            emb.unpersist()
            codes = spark.read.parquet(f"{base}/codes.parquet")
            pq.save(spark, f"{base}/model")
            _ann_sig_stamp(sf_dir, base)
        _PQ_CACHE[key] = (pq, codes)
    return _PQ_CACHE[key]


def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    pq, codes = _pq_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key2 = (_skey(spark), sf_dir, "pq_lut_q")
    if key2 not in _PROBE_WRITTEN:
        lut = pq.lut(np.asarray(qvec))
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/pq/lut_q.parquet",
            [(s, c, float(lut[s][c])) for s in range(pq.m) for c in range(pq.ksub)],
            "sub int, code int, dist double",
        )
        _PROBE_WRITTEN.add(key2)
    res = pq.search(codes, qvec, k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


# ADC oracle by construction: codes + the query's LUT are parquet artifacts;
# DuckDB replays the lookup-sum scan exactly (same fold order, ROUND 6)
_register(
    "pq_adc_knn",
    _pq_adc,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq/lut_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ soft-delete skip on the COMPRESSED layout (delete × compression,
# VERDICT r08 #2 — B15/J6 on the ADC path, reference ``pq_index.go:318+``
# bitmap skip): the exported codes table is searched with a delete vector
# anti-joined into the candidates BEFORE top-k, so deleted docs neither
# appear nor consume result slots while the compressed-domain scan stays
# delete-oblivious. The deleted set includes vec_id 0 — the query's own
# doc, whose ADC distance is the pure quantization floor — and the build
# ASSERTS (once per session/corpus) that the exclusion intersects the
# undeleted ADC top-k, so the skip can't pass vacuously at any SF. The
# oracle replays the same LUT-join scan with the exclusion predicate.
_PQ_DELETE_WHERE = "id % 7 = 0"  # string: module import stays Spark-free
_PQ_DELETE_KEEP_SQL = "vec_id % 7 <> 0"


def _pq_delete_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pq_adc(spark, sf_dir)  # trained index + codes/LUT artifacts
    pq, codes = _pq_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "pq_delete_nonvacuous")
    if key not in _PROBE_WRITTEN:
        undeleted_top = pq.search(codes, qvec, k=K).collect()
        if not any(r["id"] % 7 == 0 for r in undeleted_top):
            raise RuntimeError(
                "pq_delete_adc: no deleted id in the undeleted ADC top-k — "
                "the soft-delete skip would be vacuous"
            )
        _PROBE_WRITTEN.add(key)
    deleted = codes.filter(_PQ_DELETE_WHERE).select("id")
    res = pq.search(codes, qvec, k=K, exclude_ids=deleted)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "pq_delete_adc",
    _pq_delete_adc,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq/lut_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l')})
SELECT vec_id, score FROM d WHERE {_PQ_DELETE_KEEP_SQL} ORDER BY score, vec_id LIMIT {K}
""",
)


PQ_RESCORE = 100


def _pq_adc_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC+R: the compressed-domain scan selects an R-deep shortlist, the
    exact metric reranks it (the standard recall fix for PQ distortion —
    recall@10 0.93 vs 0.43 pure-ADC on this corpus, RECALL.md)."""
    _pq_adc(spark, sf_dir)  # ensures the trained index + artifacts exist
    pq, codes = _pq_trained(spark, sf_dir)
    res = pq.search(
        codes, _hybrid_qvec(spark, sf_dir), k=K,
        rescore=PQ_RESCORE, vectors=_emb_docs(spark, sf_dir),
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "pq_adc_rescore",
    _pq_adc_rescore,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq/lut_q.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l')}),
short AS (SELECT vec_id FROM adc ORDER BY score, vec_id LIMIT {PQ_RESCORE}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN short USING (vec_id)),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ K1 reranker hook through the builder (reference Reranker option,
# ``index_search.go:50-60`` + ``reranker_test.go:9-61``): a VectorSearch
# over the PQ layout runs the compressed-domain ADC scan for a
# SHORTLIST-deep candidate list, then ``with_reranker`` applies the
# documented Rerank use-case — exact rescore of the candidates by their
# STORED vectors — as the post-search hook (runs on ≤ shortlist rows).
# The oracle replays the same two stages from the exported artifacts:
# LUT-join shortlist, then exact L2 over the embeddings. Distinct from
# pq_adc_rescore on purpose: that query exercises PQIndex.search's fused
# rescore; this one exercises the BUILDER's pluggable hook surface.
RERANK_SHORTLIST = 30


def _reranker_adc_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.ann import _exact_rescore

    _pq_adc(spark, sf_dir)  # trained PQ + codes/LUT artifacts
    pq, codes = _pq_trained(spark, sf_dir)
    emb = _emb_docs(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)

    def rr(short: DataFrame) -> DataFrame:
        return _exact_rescore(
            emb, short.select("id"), qvec, k=K,
            id_col="id", vec_col="vector", metric="l2", round_to=6,
        )

    corpus = Corpus(emb, metric="l2")
    corpus._pq, corpus._pq_codes = pq, codes
    out = (
        corpus.vector_search()
        .with_query(qvec)
        .with_adc()
        .with_k(RERANK_SHORTLIST)
        .with_reranker(rr)
        .execute()
    )
    return out.select(F.col("id").alias("vec_id"), "score")


_register(
    "reranker_adc_rescore",
    _reranker_adc_rescore,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq/lut_q.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l')}),
short AS (SELECT vec_id FROM adc ORDER BY score, vec_id LIMIT {RERANK_SHORTLIST}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN short USING (vec_id)),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


N_PQ_BATCH = 20


def _pq_adc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ADC: one scan of the codes table scores all 20 queries
    (broadcast per-qid LUT join + grouped sum — the compressed-domain
    batch twin of knn_batch100). Oracle replays the joined-LUT scan."""
    import numpy as np

    _pq_adc(spark, sf_dir)  # trained index + codes artifact
    pq, codes = _pq_trained(spark, sf_dir)
    qs = _emb_queries(spark, sf_dir, tuple(range(N_PQ_BATCH)))
    key = (_skey(spark), sf_dir, "pq_luts_batch")
    if key not in _PROBE_WRITTEN:
        rows = []
        for r in qs.sort("qid").collect():
            lut = pq.lut(np.asarray([float(x) for x in r["qvec"]]))
            rows.extend(
                (int(r["qid"]), s, c, float(lut[s][c]))
                for s in range(pq.m)
                for c in range(pq.ksub)
            )
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/pq/luts_batch.parquet",
            rows, "qid bigint, sub int, code int, dist double",
        )
        _PROBE_WRITTEN.add(key)
    return pq.search_batch(codes, qs, k=K).select(
        "qid", F.col("id").alias("vec_id"), "score"
    )


_register(
    "pq_adc_batch20",
    _pq_adc_batch,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')),
l AS (SELECT qid, sub, code, dist FROM read_parquet('{_ART01}/pq/luts_batch.parquet/*.parquet')),
e AS (SELECT id, generate_subscripts(codes, 1) - 1 AS sub, unnest(codes) AS code FROM c),
d AS (SELECT l.qid, e.id AS vec_id, ROUND(sqrt(sum(l.dist)), 6) AS score
      FROM e JOIN l ON l.sub = e.sub AND l.code = e.code GROUP BY l.qid, e.id)
SELECT qid, vec_id, score FROM
  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn FROM d)
WHERE rn <= {K}
""",
)


def _hybrid_adc_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion over the COMPRESSED vector path — completes the
    hybrid × layout matrix (flat: hybrid_rrf, IVF-pruned: hybrid_ivf_rrf,
    PQ-compressed: here; the reference wraps any index,
    ``hybrid_search_index.go:326-365``): metadata prefilter → PQ ADC scan
    over the surviving codes → BM25 → RRF, all in one builder chain. The
    oracle replays the ADC scan from the exported codes + LUT artifacts
    (same by-construction scheme as pq_adc_knn) over the same lang
    candidates."""
    _pq_adc(spark, sf_dir)  # trained PQ + codes + lut_q artifacts
    pq, codes = _pq_trained(spark, sf_dir)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._pq, corpus._pq_codes = pq, codes
    hs = (
        corpus.hybrid_search()
        .with_vector(_hybrid_qvec(spark, sf_dir))
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_adc()
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_adc_rrf",
    _hybrid_adc_rrf,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq/codes.parquet/*.parquet')
           WHERE id IN (SELECT doc_id FROM documents WHERE lang = '{HYBRID_LANG}')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq/lut_q.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l')}),
vres AS (SELECT vec_id AS id, score FROM adc ORDER BY score, vec_id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _write_cluster_luts(
    spark: SparkSession, ix, qvec, path: str, nprobe: int,
    sf_dir: str | None = None,
) -> None:
    """THE per-probed-cluster residual-LUT export (one copy — the plain
    IVFPQ, hybrid-IVFPQ, and maintenance queries all replay their
    oracles from tables of this exact shape, so the export math must
    not diverge between them): for each of the query's ``nprobe``
    nearest coarse lists, the PQ LUT of the query's residual against
    that centroid, as (cluster_id, sub, code, dist) rows.

    With ``sf_dir`` the export is corpus-gated (r14): a .sig-stamped
    fresh copy on disk skips the write job — the rows are a
    deterministic function of the (corpus-gated) trained model and the
    pinned query vector."""
    import numpy as np

    if sf_dir is not None and _probe_export_done(spark, sf_dir, path):
        return
    q = np.asarray(qvec, dtype=np.float64)
    rows = []
    for cid in ix.ivf.probe_lists(q, nprobe):
        lut = ix.pq.lut(q - ix.ivf.centroids[cid])
        rows.extend(
            (int(cid), s, c, float(lut[s][c]))
            for s in range(ix.pq.m)
            for c in range(ix.pq.ksub)
        )
    _write_rows(spark, path, rows, "cluster_id bigint, sub int, code int, dist double")
    if sf_dir is not None:
        _probe_export_stamp(sf_dir, path)


def _ivfpq_trained(spark: SparkSession, sf_dir: str):
    """Trained IVFPQ + encoded artifact, built once per CORPUS (r14) —
    same reopen convention as :func:`_pq_trained` (coarse centroids +
    residual codebooks persist under `model/`; the encoded table the
    oracles replay is untouched)."""
    from comet_spark.operators.ann import IVFPQIndex

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVFPQ_CACHE:
        _evict_superseded(_IVFPQ_CACHE, key)
        base = f"{_art_dir(sf_dir)}/ivfpq"
        ix = None
        if _ann_sig_fresh(sf_dir, base):
            try:
                ix = IVFPQIndex.load(spark, f"{base}/model")
                enc = spark.read.parquet(f"{base}/encoded.parquet")
                enc.first()
            except Exception:
                ix = None
        if ix is None:
            emb = _emb_docs(spark, sf_dir).select("id", "vector").cache()
            ix = IVFPQIndex.train(emb, nlist=4, m=PQ_M, nbits=4, max_iter=5)
            ix.encode(emb).write.mode("overwrite").parquet(f"{base}/encoded.parquet")
            emb.unpersist()
            enc = spark.read.parquet(f"{base}/encoded.parquet")
            ix.save(spark, f"{base}/model")
            _ann_sig_stamp(sf_dir, base)
        _IVFPQ_CACHE[key] = (ix, enc)
    return _IVFPQ_CACHE[key]


def _ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ix, enc = _ivfpq_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key2 = (_skey(spark), sf_dir, "ivfpq_luts_q")
    if key2 not in _PROBE_WRITTEN:
        _write_cluster_luts(
            spark, ix, qvec, f"{_art_dir(sf_dir)}/ivfpq/luts_q.parquet", nprobe=4,
            sf_dir=sf_dir,
        )
        _PROBE_WRITTEN.add(key2)
    res = ix.search(enc, qvec, k=K, nprobe=4)
    return res.select(F.col("id").alias("vec_id"), "score")


# residual-ADC oracle by construction: per-probed-cluster LUT artifacts join
# the encoded table on (cluster_id, sub, code) — probing is implicit (only
# probed clusters have LUT rows)
_register(
    "ivfpq_adc_knn",
    _ivfpq_adc,
    f"""
WITH c AS (SELECT id, cluster_id, codes FROM read_parquet('{_ART01}/ivfpq/encoded.parquet/*.parquet')),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/ivfpq/luts_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _ivfpq_adc_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (the reference's recall regime needs this at 4-bit codes):
    residual-ADC over the probed lists picks an R-deep shortlist, exact L2
    reranks — same plan shape as pq_adc_rescore but list-pruned."""
    _ivfpq_adc(spark, sf_dir)  # ensures trained index + LUT artifacts exist
    ix, enc = _ivfpq_trained(spark, sf_dir)
    res = ix.search(
        enc, _hybrid_qvec(spark, sf_dir), k=K, nprobe=4,
        rescore=PQ_RESCORE, vectors=_emb_docs(spark, sf_dir),
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivfpq_adc_rescore",
    _ivfpq_adc_rescore,
    f"""
WITH c AS (SELECT id, cluster_id, codes FROM read_parquet('{_ART01}/ivfpq/encoded.parquet/*.parquet')),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/ivfpq/luts_q.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')}),
short AS (SELECT vec_id FROM adc ORDER BY score, vec_id LIMIT {PQ_RESCORE}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN short USING (vec_id)),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


N_IVF_BATCH = 20


def _ivf_batch_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF: 20 queries through the probed layout in ONE job; with
    nprobe = nlist it must equal the exact batch scan (the oracle)."""
    ivf, assigned = _ivf_trained(spark, sf_dir)
    qs = _emb_queries(spark, sf_dir, tuple(range(N_IVF_BATCH)))
    return ivf.search_batch(assigned, qs, k=K, nprobe=8).select(
        "qid", F.col("id").alias("vec_id"), "score"
    )


_register(
    "ivf_batch20_fullprobe",
    _ivf_batch_fullprobe,
    f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_IVF_BATCH}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT q.qid, e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT qid, vec_id, score FROM
  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn FROM d)
WHERE rn <= {K}
""",
)


def _ivf_batch_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qs = _emb_queries(spark, sf_dir, tuple(range(N_IVF_BATCH)))
    key = (_skey(spark), sf_dir, "probes_batch2")
    if key not in _PROBE_WRITTEN:
        rows = []
        for r in qs.select("qid", "qvec").collect():
            qv = np.asarray([float(x) for x in r["qvec"]])
            rows.extend((int(r["qid"]), int(c)) for c in ivf.probe_lists(qv, 2))
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_batch2.parquet",
            rows, "qid bigint, cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    return ivf.search_batch(assigned, qs, k=K, nprobe=2).select(
        "qid", F.col("id").alias("vec_id"), "score"
    )


# per-query pruned batch scan, oracle-checked from the exported probe table
_register(
    "ivf_batch20_nprobe2",
    _ivf_batch_nprobe2,
    f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_IVF_BATCH}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT qid, cluster_id FROM read_parquet('{_ART01}/ivf/probes_batch2.parquet/*.parquet')),
d AS (SELECT p.qid, a.id AS vec_id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
      FROM a JOIN p USING (cluster_id) JOIN q ON q.qid = p.qid)
SELECT qid, vec_id, score FROM
  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn FROM d)
WHERE rn <= {K}
""",
)


def _ivf_multi_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query approximate search through the BUILDER (L + C4 + D1 on
    the IVF path, reference index_search.go:141-279): the trained disk
    layout is injected as the corpus index, nprobe = nlist makes the probed
    batch scan exact, so the fullprobe multi-query aggregation is the
    oracle."""
    from comet_spark.plans.builder import Corpus

    ivf, assigned = _ivf_trained(spark, sf_dir)
    c = Corpus(_emb_docs(spark, sf_dir))
    c._ivf, c._ivf_assigned = ivf, assigned
    qvecs = [
        [float(x) for x in r["qvec"]]
        for r in _emb_queries(spark, sf_dir, MULTI_QIDS).sort("qid").collect()
    ]
    res = (
        c.vector_search().with_query(*qvecs).with_k(K)
        .with_score_aggregation("sum").with_nprobes(8).execute()
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register("ivf_multi_sum", _ivf_multi_sum, _sql_knn_multi("sum(score)"))


_HNSW_CACHE: dict[tuple[str, str, str], object] = {}


def _hnsw_trained(spark: SparkSession, sf_dir: str):
    """Driver-held HNSW over the embeddings corpus, built once per
    CORPUS (r14): the graph persists via HNSWIndex.save (nodes + edges +
    meta, new files the oracles never read) and a signature-fresh
    session reloads it instead of re-inserting 2000 nodes — the build is
    deterministic (seeded levels, id insertion order), and the candidate
    artifacts downstream queries export are functions of the graph."""
    from comet_spark.operators.hnsw import HNSWIndex

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _HNSW_CACHE:
        _evict_superseded(_HNSW_CACHE, key)
        base = f"{_art_dir(sf_dir)}/hnsw/graph"
        ix = None
        if _ann_sig_fresh(sf_dir, base):
            try:
                ix = HNSWIndex.load(spark, base)
            except Exception:
                ix = None
        if ix is None:
            ix = HNSWIndex.build(
                _emb_docs(spark, sf_dir), m=8, ef_construction=100
            )
            ix.save(spark, base)
            _ann_sig_stamp(sf_dir, base)
        _HNSW_CACHE[key] = ix
    return _HNSW_CACHE[key]


def _hnsw_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 true graph-HNSW (driver-built serving index, SURVEY §4.3 option
    a; reference hnsw_index.go:473-694): deterministic build (seeded
    levels, id insertion order), beam candidates exported to parquet, and
    the CLUSTER does exact scoring + top-k over a broadcast semi-join —
    so the oracle replays scoring from the candidate artifact."""
    res = _hnsw_trained(spark, sf_dir).search(
        _emb_docs(spark, sf_dir), _hybrid_qvec(spark, sf_dir), k=K,
        ef_search=50, artifacts_path=f"{_art_dir(sf_dir)}/hnsw",
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "hnsw_ann_topk",
    _hnsw_ann,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/hnsw/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN c ON c.id = e.vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _hnsw_multi_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph search_batch + cross-query Sum aggregation (one scoring job
    for all queries); a corpus-sized beam makes every per-query search
    exact, so the exact multi-query aggregation is the oracle — the same
    identity trick as ivf fullprobe (connectivity at M=8 is asserted by
    tests/test_hnsw.py's ef-ladder exactness)."""
    from comet_spark.operators.knn import knn_aggregate

    ix = _hnsw_trained(spark, sf_dir)
    per_q = ix.search_batch(
        _emb_docs(spark, sf_dir),
        _emb_queries(spark, sf_dir, MULTI_QIDS),
        k=K, ef_search=len(ix.ids),
    )
    res = knn_aggregate(per_q, k=K, agg="sum", ascending=True)
    return res.select(F.col("id").alias("vec_id"), "score")


_register("hnsw_multi_sum", _hnsw_multi_sum, _sql_knn_multi("sum(score)"))


_DHNSW_CACHE: dict[tuple[str, str], object] = {}


def _dhnsw_index(spark: SparkSession, sf_dir: str):
    """Memoized per-session DistributedHNSW over the embeddings corpus
    (8 per-partition sub-graphs, deterministic seed) — shared by the
    plain distributed-graph query and the hybrid-over-HNSW cell."""
    from comet_spark.operators.hnsw import DistributedHNSW

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _DHNSW_CACHE:
        _evict_superseded(_DHNSW_CACHE, key, _unpersist_graphs)
        # build-once per corpus (r14): the pickled sub-graph blobs ARE
        # the serving state; a signature-fresh session reads them back
        # instead of re-running the mapInPandas graph build
        base = f"{_art_dir(sf_dir)}/dhnsw/graphs"
        ix = None
        if _ann_sig_fresh(sf_dir, base):
            try:
                ix = DistributedHNSW.load(spark, base)
                ix.graphs = ix.graphs.cache()
                ix.graphs.first()
            except Exception:
                ix = None
        if ix is None:
            ix = DistributedHNSW.build(
                _emb_docs(spark, sf_dir), m=8, ef_construction=100,
                num_partitions=8,
            )
            ix.save(base)
            _ann_sig_stamp(sf_dir, base)
        _DHNSW_CACHE[key] = ix
    return _DHNSW_CACHE[key]


def _dhnsw_export_candidates(spark: SparkSession, sf_dir: str) -> str:
    """Memoized export of the ef=100 traversal beam for the pinned query
    vector — the candidate artifact BOTH dhnsw oracles replay (traversal
    is deterministic for a fixed graph + ef, so the hybrid query's
    re-traversal produces the identical set)."""
    ix = _dhnsw_index(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    art = f"{_art_dir(sf_dir)}/dhnsw"
    key2 = (_skey(spark), sf_dir, "dhnsw_cands")
    if key2 not in _PROBE_WRITTEN:
        path = f"{art}/candidates.parquet"
        if not _probe_export_done(spark, sf_dir, path):
            ix.candidates(qvec, ef_search=100).distinct().repartition(
                1
            ).write.mode("overwrite").parquet(path)
            _probe_export_stamp(sf_dir, path)
        _PROBE_WRITTEN.add(key2)
    return art


def _hnsw_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 option (c): per-partition HNSW sub-graphs built in mapInPandas
    (no driver collect, no row cap — hnsw.py DistributedHNSW); search
    walks every sub-graph in parallel and the union of beams feeds the
    same semi-join exact-scoring plan as the driver graph. Oracle
    replays exact scoring + ordering from the exported candidate
    artifact (by-construction, like hnsw_ann_topk)."""
    from comet_spark.operators.hnsw import score_candidates

    qvec = _hybrid_qvec(spark, sf_dir)
    art = _dhnsw_export_candidates(spark, sf_dir)
    # replay the exported candidates through the ONE shared scoring tail
    # (hnsw.score_candidates) — the memo only skips the traversal+export
    cand = spark.read.parquet(f"{art}/candidates.parquet")
    res = score_candidates(
        _emb_docs(spark, sf_dir), cand, qvec, metric="l2", k=K
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "hnsw_dist_topk",
    _hnsw_dist,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/dhnsw/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN c ON c.id = e.vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _hybrid_hnsw_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion over the DISTRIBUTED GRAPH vector path — the final
    cell of the hybrid × layout matrix (flat: hybrid_rrf, IVF-pruned:
    hybrid_ivf_rrf, PQ-compressed: hybrid_adc_rrf, graph: here; the
    reference wraps ANY index in hybrid search,
    ``hybrid_search_index.go:326-365``): metadata prefilter → union-of-
    beams HNSW candidates scored over the surviving docs → BM25 → RRF,
    one builder chain via build_hnsw(distributed=True)'s shared search
    surface. Oracle replays the exported traversal beam (deterministic
    for a fixed graph + ef) filtered to the lang candidates, then the
    exact L2 top-k + BM25 + RRF in SQL."""
    ix = _dhnsw_index(spark, sf_dir)
    _dhnsw_export_candidates(spark, sf_dir)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._hnsw = ix
    hs = (
        corpus.hybrid_search()
        .with_vector(_hybrid_qvec(spark, sf_dir))
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_ef_search(100)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_hnsw_rrf",
    _hybrid_hnsw_rrf,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/dhnsw/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
ev AS (SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v
       FROM embeddings e JOIN c ON c.id = e.vec_id
       JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = '{HYBRID_LANG}'),
vd AS (SELECT ev.id, ROUND({_sql_l2('ev.v', 'q.qv')}, 6) AS score FROM ev, q),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 HNSW-role: LSH candidates + exact rescore (deterministic: fixed
    hyperplane seed, per-row signatures, total-order top-k)."""
    from comet_spark.operators.similarity import lsh_ann_topk

    res = lsh_ann_topk(
        _emb_docs(spark, sf_dir), _hybrid_qvec(spark, sf_dir), k=K, ef=100,
        artifacts_path=f"{_art_dir(sf_dir)}/lsh",
    )
    return res.select(F.col("id").alias("vec_id"), "score")


# oracle by construction from the exported signature artifacts: DuckDB
# replays band-hit candidates ∪ ef-nearest-by-Hamming padding, then the
# exact L2 rescore + total-order top-k
_register(
    "lsh_ann_topk",
    _lsh_ann,
    f"""
WITH s AS (SELECT id, full_sig, band_hit FROM read_parquet('{_ART01}/lsh/sigs.parquet/*.parquet')),
qm AS (SELECT qfull FROM read_parquet('{_ART01}/lsh/qmeta.parquet/*.parquet')),
near AS (SELECT id FROM s, qm ORDER BY bit_count(xor(full_sig, qfull)), id LIMIT 100),
cand AS (SELECT id FROM s WHERE band_hit UNION SELECT id FROM near),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings JOIN cand ON cand.id = vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 HNSW-role, multi-probe variant (Lv et al., VLDB'07): beyond the
    query's own band buckets, probe the 16 cheapest bit-flip neighbor
    buckets (ranked by squared hyperplane margin of the flipped bits) —
    recall 0.97 at ef=100 on the RECALL.md fixture vs 0.61 single-probe,
    for the same one-scan plan. The probe set is baked into the exported
    band_hit column, so the same artifact oracle replays it."""
    from comet_spark.operators.similarity import lsh_ann_topk

    res = lsh_ann_topk(
        _emb_docs(spark, sf_dir), _hybrid_qvec(spark, sf_dir), k=K, ef=100,
        n_probes=16, artifacts_path=f"{_art_dir(sf_dir)}/lsh_mp",
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "lsh_multiprobe_topk",
    _lsh_multiprobe,
    f"""
WITH s AS (SELECT id, full_sig, band_hit FROM read_parquet('{_ART01}/lsh_mp/sigs.parquet/*.parquet')),
qm AS (SELECT qfull FROM read_parquet('{_ART01}/lsh_mp/qmeta.parquet/*.parquet')),
near AS (SELECT id FROM s, qm ORDER BY bit_count(xor(full_sig, qfull)), id LIMIT 100),
cand AS (SELECT id FROM s WHERE band_hit UNION SELECT id FROM near),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings JOIN cand ON cand.id = vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ---------------------------------------------------------------------------
# Layout maintenance, driver-provable (VERDICT r05 next-round #1/#2/#6):
# the round-5 machinery — IVFIndex.refresh + DocumentStore.compact(
# recluster=...), PQIndex.refresh/encode_inplace, DistributedHNSW.add_batch
# — each replayed as a registry query whose DuckDB oracle reads the
# POST-MAINTENANCE artifacts by construction (the same scheme that makes
# ivf_knn_nprobe2 / hnsw_dist_topk hash-checkable). Every build is
# memoized per session and REBUILT from scratch each session, so the
# exported layout always matches the code that produced it.
# ---------------------------------------------------------------------------
_MAINT_CACHE: dict[tuple, object] = {}


def _drifted_store(spark: SparkSession, sf_dir: str, name: str, train, ingest, refresh):
    """THE drift scaffold all maintenance queries share (one copy — the
    oracles depend on the store-path convention and the 1/3-trained +
    2/3-appended split, so the trio must not desynchronize): train on a
    third of the corpus, ingest it WITH write-time layout columns,
    append the other two thirds AFTER training (the drift), refresh the
    index on the merged view, compact(recluster=refreshed). Returns
    ``(refreshed, store)``; the store's compacted files at
    ``.../maint/<name>_store/data`` are the oracle's replay surface."""
    import shutil

    from comet_spark.storage.store import DocumentStore

    emb = _emb_docs(spark, sf_dir).select(
        "id", F.col("vector").cast("array<double>").alias("vector")
    )
    initial = emb.filter(F.col("id") % 3 == 0)
    drift = emb.filter(F.col("id") % 3 != 0)  # 2x the trained corpus
    ix0 = train(initial)
    store_path = f"{_art_dir(sf_dir)}/maint/{name}_store"
    shutil.rmtree(store_path, ignore_errors=True)
    store = DocumentStore(spark, store_path)
    store.append(ingest(ix0, initial))  # write-time layout columns
    store.append(drift)  # appended AFTER training: no layout columns yet
    refreshed = refresh(ix0, store.read())
    store.compact(recluster=refreshed)
    return refreshed, store


def _maint_ivf(spark: SparkSession, sf_dir: str):
    """Drifted store → refreshed IVF → compact(recluster=refreshed) →
    partition-pruned serving export. One third of the corpus is the
    trained 'initial' state (write-time assignment, like any ingest);
    the other two thirds append AFTER training — the drift that
    invalidates the centroids. ``refresh`` retrains on the merged view
    (reference re-Train(), ``ivf_index.go:206-235``) and compaction
    rewrites every surviving row's ``cluster_id`` in the same pass that
    merges segments; the refreshed index then exports the compacted
    view as the ``partitionBy(cluster_id)`` serving layout (lists =
    partitions, as in _ivf_trained)."""
    key = _live_cache_key(spark, sf_dir, "embeddings") + ("ivf",)
    if key not in _MAINT_CACHE:
        import numpy as np

        from comet_spark.operators.ann import IVFIndex

        # no _evict_superseded here: _MAINT_CACHE holds one entry PER
        # MAINT NAME under the same (session, sf_dir) — the generic
        # eviction would drop the sibling layouts. A regen just strands
        # the old entry (no executor storage pinned; bounded by regens).
        base = f"{_art_dir(sf_dir)}/maint"
        # build-once per corpus (r14, VERDICT r13 #4): the whole
        # drift→refresh→compact pass is deterministic, its outputs
        # (compacted layout, probes) are the oracle's replay surface on
        # disk, and the refreshed model persists alongside — a
        # signature-fresh session reopens all three instead of re-running
        # the maintenance scaffold.
        refreshed = None
        if _ann_sig_fresh(sf_dir, f"{base}/ivf_model"):
            try:
                refreshed = IVFIndex.load(spark, f"{base}/ivf_model")
                layout = spark.read.parquet(f"{base}/ivf_layout.parquet")
                layout.first()
                spark.read.parquet(f"{base}/ivf_probes_q2.parquet").first()
            except Exception:
                refreshed = None
        if refreshed is None:
            refreshed, store = _drifted_store(
                spark, sf_dir, "ivf",
                train=lambda d: IVFIndex.train(d, 8, max_iter=10),
                ingest=lambda ix, d: ix.assign_inplace(d),
                refresh=lambda ix, view: ix.refresh(view, max_iter=10),
            )
            refreshed.write(store.read(), f"{base}/ivf_layout.parquet")
            layout = spark.read.parquet(f"{base}/ivf_layout.parquet")
            qvec = _hybrid_qvec(spark, sf_dir)
            _write_rows(
                spark, f"{base}/ivf_probes_q2.parquet",
                [(int(c),) for c in refreshed.probe_lists(np.asarray(qvec), 2)],
                "cluster_id bigint",
            )
            refreshed.save(spark, f"{base}/ivf_model")
            _ann_sig_stamp(sf_dir, f"{base}/ivf_model")
        _MAINT_CACHE[key] = (refreshed, layout)
    return _MAINT_CACHE[key]


def _ivf_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe search over the POST-COMPACTION layout: the probed lists
    are the refreshed assignment compaction just rewrote, so the
    partition pruning this query's plan shows (test_plans) is honest on
    the drifted corpus — round 5's maintenance machinery, now
    hash-checked end to end."""
    refreshed, layout = _maint_ivf(spark, sf_dir)
    res = refreshed.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivf_recluster_knn",
    _ivf_recluster,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/maint/ivf_layout.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/maint/ivf_probes_q2.parquet/*.parquet')),
d AS (SELECT a.id AS vec_id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
      FROM a JOIN p USING (cluster_id), q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _maint_pq(spark: SparkSession, sf_dir: str):
    """Drifted store → refreshed PQ codebooks → compact(recluster=pq):
    the codes-only maintenance twin. encode_inplace rewrites every
    surviving row's ``codes`` against the CURRENT-corpus codebooks
    during the merge rewrite (reference re-Train, ``pq_index.go``); the
    compacted store's raw files — one segment, every id exactly once —
    ARE the merged view, so the oracle replays ADC straight off them."""
    key = _live_cache_key(spark, sf_dir, "embeddings") + ("pq",)
    if key not in _MAINT_CACHE:
        import numpy as np

        from comet_spark.operators.ann import PQIndex
        from comet_spark.storage.store import DocumentStore

        # no _evict_superseded here: _MAINT_CACHE holds one entry PER
        # MAINT NAME under the same (session, sf_dir) — the generic
        # eviction would drop the sibling layouts. A regen just strands
        # the old entry (no executor storage pinned; bounded by regens).
        base = f"{_art_dir(sf_dir)}/maint"
        # build-once per corpus — see _maint_ivf (r14)
        refreshed = None
        if _ann_sig_fresh(sf_dir, f"{base}/pq_model"):
            try:
                refreshed = PQIndex.load(spark, f"{base}/pq_model")
                store = DocumentStore(spark, f"{base}/pq_store")
                store.read().first()
                spark.read.parquet(f"{base}/pq_lut_q.parquet").first()
            except Exception:
                refreshed = None
        if refreshed is None:
            refreshed, store = _drifted_store(
                spark, sf_dir, "pq",
                train=lambda d: PQIndex.train(d, m=PQ_M, nbits=4, max_iter=5),
                ingest=lambda ix, d: ix.encode_inplace(d),
                refresh=lambda ix, view: ix.refresh(view, max_iter=5),
            )
            qvec = _hybrid_qvec(spark, sf_dir)
            lut = refreshed.lut(np.asarray(qvec))
            _write_rows(
                spark, f"{base}/pq_lut_q.parquet",
                [(s, c, float(lut[s][c])) for s in range(refreshed.m) for c in range(refreshed.ksub)],
                "sub int, code int, dist double",
            )
            refreshed.save(spark, f"{base}/pq_model")
            _ann_sig_stamp(sf_dir, f"{base}/pq_model")
        _MAINT_CACHE[key] = (refreshed, store)
    return _MAINT_CACHE[key]


def _pq_reencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    refreshed, store = _maint_pq(spark, sf_dir)
    codes = store.read().select("id", "codes")
    res = refreshed.search(codes, _hybrid_qvec(spark, sf_dir), k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "pq_reencode_adc",
    _pq_reencode,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/maint/pq_store/data/**/*.parquet', hive_partitioning=1)),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/maint/pq_lut_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _maint_dhnsw(spark: SparkSession, sf_dir: str):
    """Two-step distributed graph: base build over a third of the
    corpus, ``add_batch`` of the remaining two thirds (fresh sub-graphs
    under fresh part ids; cost ∝ batch, reference mutable-graph Add,
    ``hnsw_index.go:493-552``). Search unions every sub-graph's beam, so
    appended docs are immediately searchable — the candidate export
    below proves it with a hash-checked top-k."""
    key = _live_cache_key(spark, sf_dir, "embeddings") + ("dhnsw_add",)
    if key not in _MAINT_CACHE:
        from comet_spark.operators.hnsw import DistributedHNSW

        # build-once per corpus (r14): the MERGED (base + appended)
        # sub-graph table persists; a signature-fresh session reloads it
        # instead of re-running build + add_batch — the merged table is
        # exactly what both paths serve from
        base = f"{_art_dir(sf_dir)}/maint/dhnsw_graphs"
        ix = None
        if _ann_sig_fresh(sf_dir, base):
            try:
                ix = DistributedHNSW.load(spark, base)
                ix.graphs = ix.graphs.cache()
                ix.graphs.first()
            except Exception:
                ix = None
        if ix is None:
            emb = _emb_docs(spark, sf_dir)
            base_ix = DistributedHNSW.build(
                emb.filter(F.col("id") % 3 == 0), m=8, ef_construction=100,
                num_partitions=8,
            )
            ix = base_ix.add_batch(
                emb.filter(F.col("id") % 3 != 0), num_partitions=8
            )
            ix.save(base)
            _ann_sig_stamp(sf_dir, base)
        _MAINT_CACHE[key] = ix
    return _MAINT_CACHE[key]


def _hnsw_addbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scoring + top-k over the GROWN graph's ef=100 beam —
    deterministic for a fixed graph + ef, so the exported candidate set
    is the oracle's replay surface (same scheme as hnsw_dist_topk)."""
    from comet_spark.operators.hnsw import score_candidates

    ix = _maint_dhnsw(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    art = f"{_art_dir(sf_dir)}/maint/dhnsw_add"
    key2 = (_skey(spark), sf_dir, "dhnsw_add_cands")
    if key2 not in _PROBE_WRITTEN:
        ix.candidates(qvec, ef_search=100).distinct().repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{art}/candidates.parquet")
        _PROBE_WRITTEN.add(key2)
    cand = spark.read.parquet(f"{art}/candidates.parquet")
    res = score_candidates(_emb_docs(spark, sf_dir), cand, qvec, metric="l2", k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "hnsw_addbatch_topk",
    _hnsw_addbatch,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/maint/dhnsw_add/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN c ON c.id = e.vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


_AUTO_CORPUS: dict[tuple[str, str], object] = {}


def _ivf_auto_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_nprobe made hash-checkable THROUGH the builder knob
    (``with_auto_nprobe``): the probe count is chosen by cumulative
    probed-list MASS (smallest nprobe scanning ≥ half the corpus —
    RECALL.md: recall tracks scan fraction, not probe count, under
    skewed lists), then the pruned scan runs exactly like
    ivf_knn_nprobe2. The CHOSEN probe set exports as the oracle's
    replay surface, so the driver hashes the whole decision, not just
    the scan."""
    import numpy as np

    ivf, assigned = _ivf_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    # one Corpus per session so the list-size memo actually memoizes
    # across bench passes (the knob's documented once-per-layout cost)
    key0 = (_skey(spark), sf_dir)
    if key0 not in _AUTO_CORPUS:
        from comet_spark.plans.builder import Corpus

        c = Corpus(_emb_docs(spark, sf_dir))
        c._ivf, c._ivf_assigned = ivf, assigned
        _AUTO_CORPUS[key0] = c
    c = _AUTO_CORPUS[key0]
    key = (_skey(spark), sf_dir, "probes_auto")
    if key not in _PROBE_WRITTEN:
        n = ivf.auto_nprobe(
            np.asarray(qvec), c._ivf_list_sizes(), target_scan_frac=0.5
        )
        _write_rows_once(
            spark, sf_dir, f"{_art_dir(sf_dir)}/ivf/probes_auto.parquet",
            [(int(x),) for x in ivf.probe_lists(np.asarray(qvec), n)],
            "cluster_id bigint",
        )
        _PROBE_WRITTEN.add(key)
    res = (
        c.vector_search().with_query(qvec).with_k(K)
        .with_auto_nprobe(0.5).execute()
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivf_auto_nprobe_knn",
    _ivf_auto_nprobe,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf/probes_auto.parquet/*.parquet')),
d AS (SELECT a.id AS vec_id, ROUND({_sql_l2('a.vector', 'q.qv')}, 6) AS score
      FROM a JOIN p USING (cluster_id), q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _hybrid_ivfpq_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion over the IVFPQ leg — with_adc() + with_nprobes(n)
    compose (VectorSearch routes the pair to the residual-ADC probed
    scan), so the hybrid × layout matrix covers every trained index the
    engine has: flat, IVF, PQ, IVFPQ (here), graph, plus the maintained
    recluster layout. Oracle replays the 2-probe per-cluster LUTs over
    the encoded artifact restricted to the lang candidates, then
    BM25 + RRF — the residual-ADC twin of hybrid_adc_rrf."""
    _ivfpq_adc(spark, sf_dir)  # trained index + encoded artifact
    ix, enc = _ivfpq_trained(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    key = (_skey(spark), sf_dir, "ivfpq_luts_q2")
    if key not in _PROBE_WRITTEN:
        _write_cluster_luts(
            spark, ix, qvec, f"{_art_dir(sf_dir)}/ivfpq/luts_q2.parquet", nprobe=2,
            sf_dir=sf_dir,
        )
        _PROBE_WRITTEN.add(key)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._ivfpq, corpus._ivfpq_enc = ix, enc
    hs = (
        corpus.hybrid_search()
        .with_vector(qvec)
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_adc()
        .with_nprobes(2)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_ivfpq_rrf",
    _hybrid_ivfpq_rrf,
    f"""
WITH c AS (SELECT id, cluster_id, codes FROM read_parquet('{_ART01}/ivfpq/encoded.parquet/*.parquet')
           WHERE id IN (SELECT doc_id FROM documents WHERE lang = '{HYBRID_LANG}')),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/ivfpq/luts_q2.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')}),
vres AS (SELECT vec_id AS id, score FROM adc ORDER BY score, vec_id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _maint_ivfpq(spark: SparkSession, sf_dir: str):
    """Drifted store → refreshed IVFPQ → compact(recluster=ivfpq): the
    FULL maintenance pass — encode_inplace rewrites coarse cluster_id
    AND residual codes in one Arrow kernel during the merge rewrite, and
    the fresh assignment (this hook produces it, so the stale-drop gate
    lets it through) drives the compacted files' co-location, keeping
    nprobe pruning honest together with the compressed codes (reference
    re-Train, ``ivfpq_index.go:164-341``). Completes the maintenance ×
    layout matrix: IVF (ivf_recluster_knn), PQ (pq_reencode_adc), graph
    (hnsw_addbatch_topk), IVFPQ here."""
    key = _live_cache_key(spark, sf_dir, "embeddings") + ("ivfpq",)
    if key not in _MAINT_CACHE:
        from comet_spark.operators.ann import IVFPQIndex
        from comet_spark.storage.store import DocumentStore

        # no _evict_superseded here: _MAINT_CACHE holds one entry PER
        # MAINT NAME under the same (session, sf_dir) — the generic
        # eviction would drop the sibling layouts. A regen just strands
        # the old entry (no executor storage pinned; bounded by regens).
        base = f"{_art_dir(sf_dir)}/maint"
        # build-once per corpus — see _maint_ivf (r14)
        refreshed = None
        if _ann_sig_fresh(sf_dir, f"{base}/ivfpq_model"):
            try:
                refreshed = IVFPQIndex.load(spark, f"{base}/ivfpq_model")
                store = DocumentStore(spark, f"{base}/ivfpq_store")
                store.read().first()
                spark.read.parquet(f"{base}/ivfpq_luts_q.parquet").first()
            except Exception:
                refreshed = None
        if refreshed is None:
            refreshed, store = _drifted_store(
                spark, sf_dir, "ivfpq",
                train=lambda d: IVFPQIndex.train(d, nlist=4, m=PQ_M, nbits=4, max_iter=5),
                ingest=lambda ix, d: ix.encode_inplace(d),
                refresh=lambda ix, view: ix.refresh(view, max_iter=5),
            )
            _write_cluster_luts(
                spark, refreshed, _hybrid_qvec(spark, sf_dir),
                f"{base}/ivfpq_luts_q.parquet", nprobe=2,
            )
            refreshed.save(spark, f"{base}/ivfpq_model")
            _ann_sig_stamp(sf_dir, f"{base}/ivfpq_model")
        _MAINT_CACHE[key] = (refreshed, store)
    return _MAINT_CACHE[key]


def _ivfpq_reencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    refreshed, store = _maint_ivfpq(spark, sf_dir)
    enc = store.read().select("id", "cluster_id", "codes")
    res = refreshed.search(enc, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


# residual-ADC over the maintained layout, oracled like ivfpq_adc_knn:
# per-probed-cluster LUTs join the COMPACTED STORE's files on
# (cluster_id, sub, code) — only probed clusters have LUT rows, and the
# cluster_id in those files is the refreshed assignment compact rewrote
_register(
    "ivfpq_reencode_adc",
    _ivfpq_reencode,
    f"""
WITH c AS (SELECT id, cluster_id, codes
           FROM read_parquet('{_ART01}/maint/ivfpq_store/data/**/*.parquet', hive_partitioning=1)),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/maint/ivfpq_luts_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


def _hybrid_reencode_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion over the MAINTAINED compressed layout (VERDICT r06
    #4 — the last cell of the hybrid × maintenance matrix): the vector
    leg runs probed residual-ADC straight off the ``ivfpq_store``
    compacted files (drift → refresh → compact(recluster=ivfpq) rewrote
    cluster_id AND residual codes in one pass), composed through the
    SAME builder chain as hybrid_ivfpq_rrf — with_adc() + with_nprobes(2)
    against the store-backed enc instead of the as-trained artifact.
    Oracle: per-probed-cluster LUTs over the compacted store restricted
    to the lang candidates, then BM25 + RRF."""
    refreshed, store = _maint_ivfpq(spark, sf_dir)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._ivfpq = refreshed
    corpus._ivfpq_enc = store.read().select("id", "cluster_id", "codes")
    hs = (
        corpus.hybrid_search()
        .with_vector(_hybrid_qvec(spark, sf_dir))
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_adc()
        .with_nprobes(2)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_reencode_rrf",
    _hybrid_reencode_rrf,
    f"""
WITH c AS (SELECT id, cluster_id, codes
           FROM read_parquet('{_ART01}/maint/ivfpq_store/data/**/*.parquet', hive_partitioning=1)
           WHERE id IN (SELECT doc_id FROM documents WHERE lang = '{HYBRID_LANG}')),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/maint/ivfpq_luts_q.parquet/*.parquet')),
adc AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')}),
vres AS (SELECT vec_id AS id, score FROM adc ORDER BY score, vec_id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


def _hybrid_recluster_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion whose VECTOR leg reads the post-compaction
    partition-pruned layout (VERDICT r06 #6, maintenance × hybrid):
    metadata prefilter → nprobe scan over the recluster-compacted
    export → BM25 → RRF, one builder chain — exactly hybrid_ivf_rrf,
    but against a layout that drifted 3x and was maintained, not the
    as-trained corpus. PartitionFilters on the compacted table are
    plan-asserted in test_plans."""
    refreshed, layout = _maint_ivf(spark, sf_dir)
    corpus = _hybrid_corpus(spark, sf_dir)
    corpus._ivf, corpus._ivf_assigned = refreshed, layout
    hs = (
        corpus.hybrid_search()
        .with_vector(_hybrid_qvec(spark, sf_dir))
        .with_text(BM25_QUERY)
        .with_metadata(Eq(Field("lang"), HYBRID_LANG))
        .with_k(K)
        .with_nprobes(2)
        .with_fusion("rrf")
    )
    return hs.execute().select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_recluster_rrf",
    _hybrid_recluster_rrf,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, vector, cluster_id
      FROM read_parquet('{_ART01}/maint/ivf_layout.parquet/**/*.parquet', hive_partitioning=1)),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/maint/ivf_probes_q2.parquet/*.parquet')),
ev AS (SELECT a.id, a.vector AS v FROM a JOIN p USING (cluster_id)
       JOIN documents d ON d.doc_id = a.id WHERE d.lang = '{HYBRID_LANG}'),
vd AS (SELECT ev.id, ROUND({_sql_l2('ev.v', 'q.qv')}, 6) AS score FROM ev, q),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'")},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# E3 descending: autocut over a BM25 relevance curve (text scores sort
# desc; the diff-curve algorithm runs on the descending sequence)
def _autocut_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_index(spark, sf_dir)
    res = bm.score(BM25_QUERY, k=50).select(F.col("id"), "score")
    cut = autocut(res, cutoff=1, ascending=False)
    return cut.select(F.col("id").alias("doc_id"), "score")


_register(
    "autocut_bm25",
    _autocut_bm25,
    f"""
WITH {_sql_bm25_ctes()},
{_sql_bm25_score(BM25_QUERY)},
base AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT 50),
o AS (SELECT id, score,
             row_number() OVER w AS rn,
             count(*) OVER () AS n,
             first_value(score) OVER w AS y0,
             last_value(score) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS yn
      FROM base WINDOW w AS (ORDER BY score DESC, id)),
dd AS (SELECT *, (score - y0)/(yn - y0) - (rn - 1)::DOUBLE/(n - 1) AS diff FROM o),
ee AS (SELECT *,
             CASE WHEN rn = 1 THEN FALSE
                  WHEN rn = n THEN n > 1 AND diff > lag(diff, 1) OVER v AND diff > lag(diff, 2) OVER v
                  ELSE diff > lag(diff, 1) OVER v AND diff > lead(diff, 1) OVER v
             END AS ext
      FROM dd WINDOW v AS (ORDER BY rn)),
cc AS (SELECT *, sum(CASE WHEN coalesce(ext, FALSE) THEN 1 ELSE 0 END)
                 OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       FROM ee),
cut AS (SELECT min(rn) AS cut_rn FROM cc WHERE coalesce(ext, FALSE) AND cum = 1)
SELECT id AS doc_id, score FROM cc, cut WHERE cut.cut_rn IS NULL OR cc.rn < cut.cut_rn
""",
)


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


_register(
    "dedup_exact",
    _dedup_exact,
    "SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id "
    "FROM documents GROUP BY fp HAVING count(*) > 1",
)


def _dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the first 8 normalized tokens —
    catches boilerplate-prefix near-duplicates at shuffle-free cost."""
    docs = _docs_tok(spark, sf_dir)
    fp = F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), 1, 8)).cast("binary"))
    return (
        docs.groupBy(fp.alias("fp"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


_register(
    "dedup_fingerprint",
    _dedup_fingerprint,
    f"""
WITH t AS (SELECT doc_id, md5(array_to_string(({_SQL_TOKENIZE.format(col='text')})[1:8], ' ')) AS fp
           FROM documents)
SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id FROM t GROUP BY fp HAVING count(*) > 1
""",
)


def _dedup_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup *decision*: within each fingerprint group keep the
    longest doc (ties → lowest id); emit the docs to DROP."""
    from pyspark.sql import Window

    docs = _docs_tok(spark, sf_dir)
    fp = F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), 1, 8)).cast("binary"))
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = docs.select("doc_id", "n_chars", fp.alias("fp")).withColumn(
        "rnk", F.row_number().over(w)
    )
    grp = ranked.groupBy("fp").agg(F.count("*").alias("grp_size"))
    return (
        ranked.join(grp, "fp")
        .filter((F.col("grp_size") > 1) & (F.col("rnk") > 1))
        .select("fp", F.col("doc_id").alias("drop_id"), "n_chars")
    )


_register(
    "dedup_keep_decision",
    _dedup_keep_decision,
    f"""
WITH t AS (SELECT doc_id, n_chars,
                  md5(array_to_string(({_SQL_TOKENIZE.format(col='text')})[1:8], ' ')) AS fp
           FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rnk,
             count(*) OVER (PARTITION BY fp) AS grp_size
      FROM t)
SELECT fp, doc_id AS drop_id, n_chars FROM r WHERE grp_size > 1 AND rnk > 1
""",
)


def _top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tok(spark, sf_dir)
    toks = docs.select(F.explode("__toks").alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(20)
    )


_register(
    "top_terms",
    _top_terms,
    f"""
WITH tok AS (SELECT unnest({_SQL_TOKENIZE.format(col='text')}) AS term FROM documents)
SELECT term, count(*) AS freq FROM tok GROUP BY term ORDER BY freq DESC, term LIMIT 20
""",
)


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid — the k-means UPDATE step (D7,
    clustering.go:208-239) expressed as a relational aggregation."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x")
    )
    return exploded.groupBy("label", "j").agg(
        F.round(F.avg("x"), 6).alias("centroid_val"), F.count("*").alias("n_vecs")
    )


_register(
    "label_centroids",
    _label_centroids,
    """
WITH e AS (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                  generate_subscripts(embedding, 1) - 1 AS j
           FROM embeddings)
SELECT label, j, ROUND(avg(x), 6) AS centroid_val, count(*) AS n_vecs
FROM e GROUP BY label, j
""",
)


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokens come from the session-cached tokenize-once projection: the
    # metrics below reference the array many times, and each reference
    # would otherwise re-expand the whole tokenize pipeline (Catalyst
    # doesn't CSE across lambda functions)
    docs = _docs_tok(spark, sf_dir)
    toks = F.col("__toks")
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n = F.size(toks).cast("bigint")
    n_uniq = F.size(F.array_distinct(toks)).cast("bigint")
    tok_chars = F.aggregate(toks, F.lit(0).cast("bigint"), lambda s, t: s + F.length(t))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("bigint")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        F.round(n_uniq.cast("double") / n, 6).alias("uniq_ratio"),
        F.round(tok_chars.cast("double") / n, 6).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n, 6).alias("stopword_ratio"),
    )


_SQL_STOPWORDS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"

_register(
    "text_quality",
    _text_quality,
    f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_uniq,
       ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS uniq_ratio,
       ROUND(list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks), 6) AS avg_token_len,
       ROUND(len(list_filter(toks, t -> list_contains({_SQL_STOPWORDS}, t)))::DOUBLE / len(toks), 6) AS stopword_ratio
FROM t
""",
)


def _doc_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets breadth (absent from the reference, free in Spark):
    per-(lang, source) doc stats with ROLLUP subtotals."""
    docs = _docs_tok(spark, sf_dir)
    toks = F.col("__toks")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(toks)).cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


_register(
    "doc_stats_rollup",
    _doc_stats_rollup,
    f"""
WITH t AS (SELECT lang, source, n_chars,
                  len({_SQL_TOKENIZE.format(col='text')}) AS n_toks FROM documents)
SELECT lang, source, count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens,
       ROUND(avg(n_chars), 6) AS avg_chars
FROM t GROUP BY ROLLUP (lang, source)
""",
)


def _token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tok(spark, sf_dir)
    toks = docs.select("doc_id", F.explode("__toks").alias("term"))
    return toks.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("term").alias("distinct_terms"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


_register(
    "token_stats",
    _token_stats,
    f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENIZE.format(col='text')}) AS term FROM documents)
SELECT count(*) AS total_tokens, count(DISTINCT term) AS distinct_terms,
       count(DISTINCT doc_id) AS n_docs FROM tok
""",
)


def _hll_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-term estimate per source (sketch.py):
    both engines compute the SAME md5-register sketch, so the
    approximate answer itself hash-matches — alongside the exact count
    and the realized relative error."""
    from comet_spark.operators.sketch import hll_distinct_exact

    docs = _docs_tok(spark, sf_dir)
    tok = docs.select("source", F.explode("__toks").alias("term"))
    # r13: one-pass register + exact fold (operator docstring has the
    # leg-by-leg equivalence) instead of two token passes + a join
    return (
        hll_distinct_exact(tok, ["source"], "term", b=6)
        .select(
            "source",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_error"),
        )
    )


_register(
    "hll_distinct_terms",
    _hll_terms,
    f"""
WITH tok AS (SELECT source, unnest({_SQL_TOKENIZE.format(col='text')}) AS term FROM documents),
h AS (SELECT source, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h FROM tok),
r AS (SELECT source, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 27 ELSE 27 - length(bin(h >> 6)) END AS rho
      FROM h),
reg AS (SELECT source, bucket, max(rho) AS mj FROM r GROUP BY source, bucket),
s AS (SELECT source, sum(1::BIGINT << (30 - mj)) AS s_hit, count(*) AS nb
      FROM reg GROUP BY source),
est AS (SELECT source,
               (0.7213 / (1.0 + 1.079 / 64.0)) * 64 * 64 * 1073741824.0
                 / (s_hit + (64 - nb) * 1073741824)::DOUBLE AS e_raw,
               64 - nb AS v
        FROM s),
fin AS (SELECT source,
               ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                          THEN 64.0 * ln(64.0 / v) ELSE e_raw END, 6) AS est_distinct
        FROM est),
ex AS (SELECT source, count(DISTINCT term) AS exact_distinct FROM tok GROUP BY source)
SELECT source, est_distinct, exact_distinct,
       ROUND((est_distinct - exact_distinct) / exact_distinct, 6) AS rel_error
FROM fin JOIN ex USING (source)
ORDER BY source
""",
)


TFIDF_SOURCE = "src0"
TFIDF_MIN_SIM = 0.8


_TFIDF_W_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _tfidf_weights(spark: SparkSession, sf_dir: str):
    """Cached TF-IDF weight + norm side tables for the blocked pair
    query — the weight subtree feeds three consumers (both pair legs +
    norms) and Spark re-executes it per consumer; one cached build per
    (session, corpus) pays the tokenize + tf/df aggregation once (the
    _simhash_table convention). The per-doc norms (r14) are the second
    per-corpus side table: without caching them the norm aggregation
    re-ran over the cached weights on every execution."""
    from comet_spark.operators.tfidf import tfidf_norms, tfidf_weights

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _TFIDF_W_CACHE:
        _evict_superseded(
            _TFIDF_W_CACHE, key,
            unpersist=lambda pair: [df.unpersist() for df in pair],
        )
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("source") == TFIDF_SOURCE
        )
        w = tfidf_weights(docs).cache()
        _TFIDF_W_CACHE[key] = (w, tfidf_norms(w).cache())
    return _TFIDF_W_CACHE[key]


def _tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vector-space doc similarity (tfidf.py) within one source
    block — the shared-term join is quadratic per posting list, so real
    deployments block (as here) and/or cap df (max_df knob)."""
    from comet_spark.operators.tfidf import tfidf_cosine_pairs

    # deliberately NOT the cached token table: the source filter prunes
    # the parquet scan to ~1/8 of the corpus, and tokenizing that subset
    # is cheaper than deserializing the full corpus' cached token arrays
    # (measured 1.3 s vs 2.3 s at sf0.1)
    docs = _t(spark, sf_dir, "documents").filter(F.col("source") == TFIDF_SOURCE)
    # r14: terminal orderBy dropped — the sort's sampling pass re-ran the
    # pair-scoring broadcast joins every execution (see repetition_metrics)
    w, norms = _tfidf_weights(spark, sf_dir)
    return tfidf_cosine_pairs(
        docs, min_sim=TFIDF_MIN_SIM, weights_df=w, norms_df=norms,
    )


_register(
    "tfidf_cosine_pairs",
    _tfidf_pairs,
    f"""
WITH tok AS (SELECT doc_id AS id, unnest({_SQL_TOKENIZE.format(col='text')}) AS term
             FROM documents WHERE source = '{TFIDF_SOURCE}'),
tf AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY id, term),
n AS (SELECT count(DISTINCT id)::DOUBLE AS n
      FROM (SELECT doc_id AS id FROM documents WHERE source = '{TFIDF_SOURCE}')),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (SELECT id, term, tf * ln(n / df) AS w FROM tf JOIN dfq USING (term) CROSS JOIN n),
nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id),
dot AS (SELECT a.id AS a_id, b.id AS b_id, sum(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.id < b.id GROUP BY a.id, b.id),
cos AS (SELECT a_id, b_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dot JOIN nrm na ON dot.a_id = na.id JOIN nrm nb ON dot.b_id = nb.id
        WHERE na.nrm > 0 AND nb.nrm > 0)
SELECT a_id, b_id, cosine FROM cos WHERE cosine >= {TFIDF_MIN_SIM}
ORDER BY a_id, b_id
""",
)


HLL_SRC_A, HLL_SRC_B = "src0", "src1"


def _hll_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (sketch.py hll_set_estimates): how many
    distinct terms do two sources share? |A∩B| by inclusion–exclusion
    over mergeable registers — no join of the raw token streams — with
    the exact intersection alongside to show the realized error."""
    from comet_spark.operators.sketch import hll_set_estimates_exact

    docs = _docs_tok(spark, sf_dir)

    # r13: the composite formulation (hll_registers×2 + hll_set_estimates
    # + distinct∩distinct) re-exploded the cached token table 5+ times
    # for one output row; the one-pass operator computes the same values
    # from a single linear plan (equivalence proof in its docstring).
    tok = docs.filter(F.col("source").isin(HLL_SRC_A, HLL_SRC_B)).select(
        F.explode("__toks").alias("term"),
        (F.col("source") == HLL_SRC_A).cast("int").alias("in_a"),
        (F.col("source") == HLL_SRC_B).cast("int").alias("in_b"),
    )
    return hll_set_estimates_exact(
        tok, "term", F.col("in_a"), F.col("in_b")
    ).select("est_a", "est_b", "est_union", "est_intersect", "exact_intersect")


def _sql_hll_est_expr(regsrc: str) -> str:
    return f"""(SELECT ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                     THEN 64.0 * ln(64.0 / v) ELSE e_raw END, 6)
     FROM (SELECT (0.7213 / (1.0 + 1.079 / 64.0)) * 64 * 64 * 1073741824.0
                    / (sum(1::BIGINT << (30 - mj)) + (64 - count(*)) * 1073741824)::DOUBLE AS e_raw,
                  64 - count(*) AS v
           FROM {regsrc}))"""


_register(
    "hll_shared_terms",
    _hll_shared,
    f"""
WITH tok AS (SELECT source, unnest({_SQL_TOKENIZE.format(col='text')}) AS term
             FROM documents WHERE source IN ('{HLL_SRC_A}', '{HLL_SRC_B}')),
h AS (SELECT source, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h FROM tok),
r AS (SELECT source, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 27 ELSE 27 - length(bin(h >> 6)) END AS rho
      FROM h),
reg AS (SELECT source, bucket, max(rho) AS mj FROM r GROUP BY source, bucket),
regm AS (SELECT bucket, max(mj) AS mj FROM reg GROUP BY bucket),
e AS (SELECT
  {_sql_hll_est_expr(f"(SELECT bucket, mj FROM reg WHERE source = '{HLL_SRC_A}')")} AS est_a,
  {_sql_hll_est_expr(f"(SELECT bucket, mj FROM reg WHERE source = '{HLL_SRC_B}')")} AS est_b,
  {_sql_hll_est_expr("regm")} AS est_union),
x AS (SELECT count(*) AS exact_intersect FROM
        (SELECT DISTINCT term FROM tok WHERE source = '{HLL_SRC_A}'
         INTERSECT
         SELECT DISTINCT term FROM tok WHERE source = '{HLL_SRC_B}'))
SELECT est_a, est_b, est_union,
       ROUND(est_a + est_b - est_union, 6) AS est_intersect, exact_intersect
FROM e, x
""",
)


CMS_PROBES = ("table", "join", "spark", "data", "row", "window", "batch", "query")
CMS_D, CMS_W = 4, 256


_CMS_COUNTERS_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cms_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimates (sketch.py): the d×w
    counter table is deterministic across engines, so the one-sided
    estimates hash-match alongside exact counts and the overcount.

    The counter table is the SKETCH — maintained state in the reference
    (built once, point-queried many times; the streaming twin
    cms_stream_counts maintains it incrementally) — so it is cached per
    (session, corpus) like every other index artifact (r14). The exact
    ground-truth leg stays per-execution: the comparison against the
    live corpus is what this query measures."""
    from comet_spark.operators.sketch import cms_estimate, cms_sketch

    docs = _docs_tok(spark, sf_dir)
    # r13 note: a fused variant (one groupBy(term) pass feeding a
    # weighted sketch + the exact counts) was measured SLOWER in a
    # same-session A/B (1.69 vs 2.02 s min) — the term aggregate is
    # computed once per consumer while both original passes shuffle
    # almost nothing (1024 cells / 8 probe terms) — kept as-is.
    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _CMS_COUNTERS_CACHE:
        _evict_superseded(
            _CMS_COUNTERS_CACHE, key, lambda df: df.unpersist()
        )
        tok = docs.select(F.explode("__toks").alias("term"))
        _CMS_COUNTERS_CACHE[key] = cms_sketch(
            tok, "term", d=CMS_D, w=CMS_W
        ).cache()
    counters = _CMS_COUNTERS_CACHE[key]
    probes = spark.createDataFrame([(t,) for t in CMS_PROBES], "term string")
    est = cms_estimate(counters, probes, d=CMS_D, w=CMS_W)
    # r14: exact probe counts in-row from the cached token arrays — the
    # old leg re-exploded the full corpus token stream (a corpus-sized
    # shuffle source at scale) to count 8 constant terms; counting each
    # probe inside the per-doc array (size(filter(...))) needs only a
    # 1-row aggregate, no explode and no exchange (guide §2.4). A term
    # absent from every doc sums to 0, matching the old left-join
    # coalesce; a NULL token array contributes NULL to the sum exactly
    # as explode contributed no rows.
    def _eq(term: str):
        # NOT a default-arg lambda: F.filter treats a 2-param lambda as
        # (element, index) and would bind the index column to the default
        return lambda x: x == F.lit(term)

    per_doc = [
        F.sum(F.size(F.filter(F.col("__toks"), _eq(t)))).alias(f"__c{i}")
        for i, t in enumerate(CMS_PROBES)
    ]
    exact = (
        docs.agg(*per_doc)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"__c{i}").alias("exact_count"),
                        )
                        for i, t in enumerate(CMS_PROBES)
                    ]
                )
            ).alias("e")
        )
        .select("e.term", "e.exact_count")
    )
    return (
        est.join(exact, "term", "left")
        .select(
            "term",
            "est_count",
            F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
            (F.col("est_count") - F.coalesce("exact_count", F.lit(0))).alias(
                "overcount"
            ),
        )
    )


def _sql_cms_coeffs() -> str:
    from comet_spark.operators.dedup import minhash_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(CMS_D))
    )
    return f"co AS (SELECT * FROM (VALUES {vals}) AS _co(i, a, b))"


_register(
    "cms_term_counts",
    _cms_terms,
    f"""
WITH tok AS (SELECT unnest({_SQL_TOKENIZE.format(col='text')}) AS term FROM documents),
{_sql_cms_coeffs()},
h AS (SELECT term, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h FROM tok),
counters AS (SELECT i, ((a * h + b) % 2147483647) % {CMS_W} AS bucket, count(*) AS c
             FROM h CROSS JOIN co GROUP BY i, bucket),
probes AS (SELECT unnest({list(CMS_PROBES)}) AS term),
pc AS (SELECT term, i,
              ((a * (('0x' || substr(md5(term), 1, 8))::BIGINT) + b) % 2147483647) % {CMS_W} AS bucket
       FROM probes CROSS JOIN co),
est AS (SELECT term, min(COALESCE(c, 0)) AS est_count
        FROM pc LEFT JOIN counters USING (i, bucket) GROUP BY term),
ex AS (SELECT term, count(*) AS exact_count FROM tok
       WHERE term IN {CMS_PROBES} GROUP BY term)
SELECT term, est_count, COALESCE(exact_count, 0) AS exact_count,
       est_count - COALESCE(exact_count, 0) AS overcount
FROM est LEFT JOIN ex USING (term)
ORDER BY term
""",
)


# embedding near-duplicate pairs: block-partitioned grid join — each task
# BLAS-multiplies one (A-block, B-block) cell; no driver collect, no corpus
# broadcast. LSH banding (lsh_bucket_pairs) prunes cells at 100 TB.
def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.similarity import cosine_pairs_grid

    return cosine_pairs_grid(_t(spark, sf_dir, "embeddings"), min_sim=NEARDUP_SIM, nblocks=4)


_register(
    "neardup_cosine_pairs",
    _neardup_pairs,
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(1.0 - ({_sql_cos('a.v', 'b.v')}), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(1.0 - ({_sql_cos('a.v', 'b.v')}), 6) >= {NEARDUP_SIM}
""",
)


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.py semantic_dedup_pairs,
    Abbas et al. 2023): the k-means/IVF cluster assignment — the SAME
    layout the ANN queries maintain — is the blocking key, and the
    quadratic cosine join is confined within clusters (Σ|c|², never N²;
    cross-cluster pairs are the published recall trade). Oracle replays
    the within-cluster join from the exported assignment artifact."""
    from comet_spark.operators.similarity import semantic_dedup_pairs

    _ivf, assigned = _ivf_trained(spark, sf_dir)
    return semantic_dedup_pairs(assigned, min_sim=NEARDUP_SIM)


_register(
    "semantic_dedup_pairs",
    _semantic_dedup,
    f"""
WITH a AS (SELECT id, vector::DOUBLE[] AS v, cluster_id
           FROM read_parquet('{_ART01}/ivf/assigned.parquet/**/*.parquet', hive_partitioning=1))
SELECT x.id AS a_id, y.id AS b_id,
       ROUND(1.0 - ({_sql_cos('x.v', 'y.v')}), 6) AS cos_sim
FROM a x JOIN a y ON x.cluster_id = y.cluster_id AND x.id < y.id
WHERE ROUND(1.0 - ({_sql_cos('x.v', 'y.v')}), 6) >= {NEARDUP_SIM}
""",
)


# --- B15/J6 soft deletes + J5 LSM read-path merge ----------------------------

def _soft_delete_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every scan skips soft-deleted ids (deletion-vector anti-join)."""
    docs = _emb_docs(spark, sf_dir)
    deletes = docs.filter(F.col("id") % 17 == 0).select("id")
    live = docs.join(deletes, "id", "left_anti")
    res = knn(
        live, None, k=K, metric="l2", literal_query=_hybrid_qvec(spark, sf_dir)
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "soft_delete_knn",
    _soft_delete_knn,
    f"WITH {_sql_knn_cte('l2', where='vec_id % 17 != 0')} "
    f"SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}",
)


# ★ J4 size-tiered store maintenance: the store takes small appends after
# a full compact (big base + contiguous tail), an UPDATE (a tail id
# re-appended with a doubled vector — newest-wins across tail segments)
# and a soft delete, then consolidates with compact(tiered=True): only
# the tail rewrites (delete watermarks applied through the read path's
# own merged view; tail ids %13 drop in the merge), the base moves by
# RENAME, and the retained delete files keep hiding the base's %13 ids.
# The oracle reconstructs the expected end state in pure SQL from the
# raw embeddings table — equality proves the tiered rewrite preserves
# exact LSM read semantics on every path (merged-tail drop, retained-
# file hide, newest-wins update).
_TIERED_STORE_CACHE: dict[tuple[str, str], object] = {}


def _tiered_store(spark: SparkSession, sf_dir: str):
    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _TIERED_STORE_CACHE:
        import shutil

        from comet_spark.storage.store import DocumentStore

        _evict_superseded(_TIERED_STORE_CACHE, key)
        path = f"{_art_dir(sf_dir)}/maint/tiered_store"
        # build-once per corpus (r14): the append/update/delete/tiered-
        # compact sequence is deterministic and its end state IS the
        # on-disk store — a signature-fresh session reopens it (probing
        # the tiered-merge invariant) instead of replaying the sequence.
        # The stamp lives in a SIBLING dir: a foreign file inside the
        # store root could confuse the store's own directory listing.
        sig_base = f"{path}.sig"
        if _ann_sig_fresh(sf_dir, sig_base):
            try:
                store = DocumentStore(spark, path)
                if len(store._segment_ids()) == 2:
                    store.read().first()
                    _TIERED_STORE_CACHE[key] = store
                    return store
            except Exception:
                pass
        emb = _emb_docs(spark, sf_dir).select(
            "id", F.col("vector").cast("array<double>").alias("vector")
        )
        shutil.rmtree(path, ignore_errors=True)
        store = DocumentStore(spark, path)
        # tails are TENTHS of the corpus vs a 4/5 base — decisively
        # below the top-tier threshold (base/4) even with parquet
        # per-file overhead, so the tiered merge deterministically runs
        # (asserted below: a silent no-op would still pass the oracle,
        # proving nothing about the rewrite)
        store.append(emb.filter(F.col("id") % 5 != 4))  # the large base
        store.compact()  # one consolidated base segment
        tail1 = emb.filter((F.col("id") % 5 == 4) & (F.col("id") % 2 == 0))
        store.append(tail1)
        updates = tail1.filter(F.col("id") % 7 == 0).withColumn(
            "vector", F.transform("vector", lambda x: x * F.lit(2.0))
        )
        tail2 = emb.filter(
            (F.col("id") % 5 == 4) & (F.col("id") % 2 == 1)
        ).unionByName(updates)
        store.append(tail2)
        store.delete(emb.filter(F.col("id") % 13 == 0).select("id"))
        store.compact(tiered=True)
        assert len(store._segment_ids()) == 2, "tiered merge did not run"
        _ann_sig_stamp(sf_dir, sig_base)
        _TIERED_STORE_CACHE[key] = store
    return _TIERED_STORE_CACHE[key]


def _tiered_store_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _tiered_store(spark, sf_dir)
    res = knn(
        store.read(), None, k=K, metric="l2",
        literal_query=_hybrid_qvec(spark, sf_dir),
    )
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "tiered_store_knn",
    _tiered_store_knn,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id,
             CASE WHEN vec_id % 5 = 4 AND vec_id % 2 = 0 AND vec_id % 7 = 0
                  THEN list_transform(embedding::DOUBLE[], x -> x * 2)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings WHERE vec_id % 13 != 0),
d AS (SELECT e.vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


_LSM_SEG_TABLES_CACHE: dict[tuple[str, str, str], dict[str, DataFrame]] = {}


def _unpersist_lsm_tables(tabs: dict[str, DataFrame]) -> None:
    for df in tabs.values():
        df.unpersist()


def _lsm_merge_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path merge (storage.go:489-629): the same query runs over every
    segment (each segment has its own index → its own corpus stats), then
    results dedup by MAX score (storage_merge.go:13-38), sort desc, top-k.
    Segments are simulated as doc_id % 2 halves of the corpus.

    r13 shape: ONE seg-tagged scoring pipeline instead of two separate
    per-segment BM25 plans — the index tables carry ``seg`` (= id % 2),
    df/stats are per-(seg[,term]) so every segment keeps ITS OWN corpus
    stats exactly as two indexes would, and the per-segment top-k is one
    window over ``seg``. Index build memoized per (session, corpus) with
    the derived tables cached — the _BM25_CACHE convention (pass 1 pays
    the build, the warm reading is serving over a BUILT index). Before
    r13 each execution re-tokenized + re-aggregated both halves (~1.9 s);
    two memoized indexes still ran two plans (~1.45 s); the fused plan
    serves at ~1.1 s with value-identical output."""
    from comet_spark.operators.bm25 import B, K1, _token_table
    from comet_spark.operators.topk import topk, topk_per_group

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _LSM_SEG_TABLES_CACHE:
        _evict_superseded(_LSM_SEG_TABLES_CACHE, key, _unpersist_lsm_tables)
        docs = _t(spark, sf_dir, "documents")
        # normalize=False: the write-time NFKC probe is skipped — the
        # driver corpus is ASCII-asserted (tests/test_text.py)
        toks = _token_table(docs, "doc_id", "text", False)
        posts = (
            toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
            .withColumn("seg", F.col("id") % 2).cache()
        )
        dl_pos = posts.groupBy("id").agg(F.sum("tf").alias("dl"))
        doc_len = (
            docs.select(F.col("doc_id").alias("id"))
            .join(dl_pos, "id", "left")
            .select("id", F.coalesce("dl", F.lit(0)).alias("dl"))
            .cache()
        )
        dft = posts.groupBy("seg", "term").agg(F.count("*").alias("df")).cache()
        stats = (
            doc_len.withColumn("seg", F.col("id") % 2)
            .groupBy("seg")
            .agg(
                F.count("*").cast("double").alias("n_docs"),
                (F.sum("dl") / F.count("*")).alias("avgdl"),
            )
            .cache()
        )
        _LSM_SEG_TABLES_CACHE[key] = {
            "posts": posts, "doc_len": doc_len, "dft": dft, "stats": stats,
        }
    t = _LSM_SEG_TABLES_CACHE[key]

    terms: dict[str, int] = {}
    for tok in tokenize_py(BM25_QUERY):
        terms[tok] = terms.get(tok, 0) + 1
    # r14: the constant query rides a folded map literal (no query-terms
    # DataFrame, no broadcast). The per-(seg, term) df and per-seg
    # n_docs/avgdl ride as LITERALS too (entry M; BM25 folds its own
    # n_docs/avgdl the same way): they are per-segment index statistics
    # of a constant query — collected once per (session, corpus) into
    # the seg-tables memo and folded into the scoring expression, so the
    # per-execution aux BroadcastExchange disappears. df counts are
    # exact integers and n_docs/avgdl round-trip bit-exact through
    # collect(); the idf log stays a JVM expression over the same doubles.
    qtf_map = F.create_map(
        *(lit for tok, c in terms.items() for lit in (F.lit(tok), F.lit(float(c))))
    )
    if "aux_lit" not in t:
        t["aux_lit"] = {
            "df": {
                (r["seg"], r["term"]): int(r["df"])
                for r in t["dft"].filter(F.col("term").isin(list(terms))).collect()
            },
            "stats": {
                r["seg"]: (r["n_docs"], r["avgdl"]) for r in t["stats"].collect()
            },
        }
    lit_df, lit_stats = t["aux_lit"]["df"], t["aux_lit"]["stats"]
    seg_key = F.concat(F.col("seg").cast("string"), F.lit("\x00"), F.col("term"))
    df_col = (
        F.element_at(
            F.create_map(
                *(
                    lit
                    for (seg, term), d in lit_df.items()
                    for lit in (F.lit(f"{seg}\x00{term}"), F.lit(d).cast("long"))
                )
            ),
            seg_key,
        )
        if lit_df
        # no query term in the vocabulary → zero matched rows; never read
        else F.lit(None).cast("long")
    )
    n_docs_col = F.element_at(
        F.create_map(
            *(
                lit
                for seg, (n, _) in lit_stats.items()
                for lit in (F.lit(int(seg)), F.lit(n))
            )
        ),
        F.col("seg").cast("int"),
    )
    avgdl_col = F.element_at(
        F.create_map(
            *(
                lit
                for seg, (_, a) in lit_stats.items()
                for lit in (F.lit(int(seg)), F.lit(a))
            )
        ),
        F.col("seg").cast("int"),
    )
    idf_col = F.log((n_docs_col - df_col + 0.5) / (df_col + 0.5) + 1.0)
    m = (
        t["posts"].filter(F.col("term").isin(list(terms)))
        .withColumn("qtf", F.element_at(qtf_map, F.col("term")))
        .join(t["doc_len"], "id")
    )
    tf = F.col("tf").cast("double")
    denom = tf + K1 * (1.0 - B + B * (F.col("dl") / avgdl_col))
    term_score = F.col("qtf") * idf_col * (tf * (K1 + 1.0)) / denom
    scored = m.groupBy("seg", "id").agg(F.round(F.sum(term_score), 6).alias("score"))
    per_seg = topk_per_group(
        scored, ["seg"], [F.col("score").desc(), F.col("id").asc()], K
    )
    merged = per_seg.groupBy("id").agg(F.max("score").alias("score"))
    res = topk(merged, [F.col("score").desc(), F.col("id").asc()], K)
    return res.select(F.col("id").alias("doc_id"), "score")


def _sql_bm25_segment(seg: int) -> str:
    """Per-segment BM25 pipeline with segment-local stats."""
    tok = _SQL_TOKENIZE.format(col="text")
    from comet_spark.operators.bm25 import tokenize_py as _tp

    terms: dict[str, int] = {}
    for t in _tp(BM25_QUERY):
        terms[t] = terms.get(t, 0) + 1
    vals = ", ".join(f"('{t}', {c}::DOUBLE)" for t, c in terms.items())
    s = f"s{seg}"
    return f"""
docs{s} AS (SELECT * FROM documents WHERE doc_id % 2 = {seg}),
tok{s} AS (SELECT doc_id AS id, unnest({tok}) AS term FROM docs{s}),
tf{s} AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tok{s} GROUP BY id, term),
dl{s} AS (SELECT id, count(*)::DOUBLE AS dl FROM tok{s} GROUP BY id),
dft{s} AS (SELECT term, count(*)::DOUBLE AS df FROM tf{s} GROUP BY term),
st{s} AS (SELECT (SELECT count(*) FROM docs{s})::DOUBLE AS n_docs,
                 (SELECT sum(coalesce(dl, 0)) FROM docs{s} LEFT JOIN dl{s} ON doc_id = id)
                 / (SELECT count(*) FROM docs{s}) AS avgdl),
qt{s} AS (SELECT * FROM (VALUES {vals}) AS _qt{s}(term, qtf)),
sc{s} AS (
  SELECT tf{s}.id,
         sum(qt{s}.qtf * ln((st{s}.n_docs - dft{s}.df + 0.5)/(dft{s}.df + 0.5) + 1.0)
             * (tf{s}.tf * (1.2 + 1.0)) / (tf{s}.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl{s}.dl / st{s}.avgdl)))) AS score
  FROM tf{s} JOIN qt{s} USING (term) JOIN dl{s} USING (id) JOIN dft{s} USING (term) CROSS JOIN st{s}
  GROUP BY tf{s}.id),
top{s} AS (SELECT id, ROUND(score, 6) AS score FROM sc{s} ORDER BY score DESC, id LIMIT {K})
"""


_register(
    "lsm_merge_bm25",
    _lsm_merge_bm25,
    f"""
WITH {_sql_bm25_segment(0)}, {_sql_bm25_segment(1)},
u AS (SELECT * FROM tops0 UNION ALL SELECT * FROM tops1),
m AS (SELECT id, max(score) AS score FROM u GROUP BY id)
SELECT id AS doc_id, score FROM m ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# --- MinHash / SimHash / n-gram near-dup detection --------------------------

NGRAM_N = 3
MIN_JACCARD = 0.3
N_HASHES = 16
LSH_BANDS = 4
SIMHASH_MAX_HAMMING = 8

_SQL_SHINGLES = f"""
tok AS (SELECT doc_id AS id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents),
sh AS (SELECT * FROM (SELECT DISTINCT id,
              unnest(list_transform(range(1, greatest(len(toks)-{NGRAM_N - 1}, 1)+1),
                     i -> array_to_string(toks[i:i+{NGRAM_N - 1}], ' '))) AS shingle
       FROM tok) WHERE shingle != ''),
cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
"""

_SQL_JACCARD_VERIFY = """
j AS (SELECT i.a_id, i.b_id,
             ROUND(i.c::DOUBLE / (ca.n_sh + cb.n_sh - i.c), 6) AS jaccard
      FROM inter i JOIN cnt ca ON i.a_id = ca.id JOIN cnt cb ON i.b_id = cb.id)
"""


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import ngram_jaccard_pairs

    # r14: per-doc sizes come in-row from the cached sets table
    # (size(sh_set) == the exploded table's count(*) per id — distinct
    # by construction), dropping the per-execution full-shingle-table
    # aggregation the old cnt join paid (guide §2.4)
    return ngram_jaccard_pairs(
        _docs_par(spark, sf_dir), n=NGRAM_N, min_jaccard=MIN_JACCARD,
        shingles_df=_doc_shingles(spark, sf_dir),
        sets_df=_doc_shingle_sets(spark, sf_dir),
    )


_register(
    "ngram_jaccard_pairs",
    _ngram_jaccard,
    f"""
WITH {_SQL_SHINGLES},
inter AS (SELECT a.id AS a_id, b.id AS b_id, count(*) AS c
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id),
{_SQL_JACCARD_VERIFY}
SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= {MIN_JACCARD}
""",
)


_DOCS_NPART_CACHE: dict[tuple[str, str], int] = {}


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the scan fanned out to all cores WHEN the input
    itself can't provide the parallelism: the local corpus is ONE
    parquet file = one-ish input partition, which serializes the
    explode-heavy token/shingle pipelines. The repartition is GATED on
    actual scan parallelism, so on a cluster corpus (many files >=
    cores) no Exchange is injected and the shipped query shapes are the
    100 TB shapes verbatim — the equalizer only fires on under-split
    local inputs."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    key = (_skey(spark), sf_dir)
    if key not in _DOCS_NPART_CACHE:  # driver-only file-split count; memoized
        _DOCS_NPART_CACHE[key] = docs.rdd.getNumPartitions()
    if _DOCS_NPART_CACHE[key] < par:
        docs = docs.repartition(par)
    return docs


# tokenize-once projection, memoized per (session, corpus): the
# dedup/quality/funnel/token-stats family all consume the same UAX#29
# token arrays, so the 4-replace+extract projection runs ONCE and every
# family member reads the cached arrays — the same design as _BM25_CACHE
# (the reference likewise tokenizes once into its in-memory index,
# bm25_index.go:153-166, rather than re-analyzing per query)
_TOKDOCS_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _docs_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.functions.text import ensure_nfkc

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _TOKDOCS_CACHE:
        _evict_superseded(_TOKDOCS_CACHE, key, lambda df: df.unpersist())
        # ensure_nfkc = write-time normalization: a no-op passthrough on
        # the ASCII driver corpus (one probe scan), an Arrow NFKC pass on
        # a non-NFKC corpus — either way queries stay native
        _TOKDOCS_CACHE[key] = (
            ensure_nfkc(_docs_par(spark, sf_dir))
            .withColumn("__toks", tokenize("text"))
            .cache()
        )
    return _TOKDOCS_CACHE[key]


# word-3gram shingle table derived from the cached tokens, shared by the
# minhash/jaccard/decontam family (all pinned to NGRAM_N)
_SHINGLES_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import shingles

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _SHINGLES_CACHE:
        _evict_superseded(_SHINGLES_CACHE, key, lambda df: df.unpersist())
        _SHINGLES_CACHE[key] = shingles(
            _docs_tok(spark, sf_dir), tokens_col="__toks", n=NGRAM_N
        ).cache()
    return _SHINGLES_CACHE[key]


# per-doc shingle SETS (one array per doc, same strings as the exploded
# table above), shared by the minhash family's in-row signature and
# set-intersection verify paths (r13)
_SHINGLE_SETS_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import shingle_sets

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _SHINGLE_SETS_CACHE:
        _evict_superseded(_SHINGLE_SETS_CACHE, key, lambda df: df.unpersist())
        _SHINGLE_SETS_CACHE[key] = shingle_sets(
            _docs_tok(spark, sf_dir), tokens_col="__toks", n=NGRAM_N
        ).cache()
    return _SHINGLE_SETS_CACHE[key]


EVAL_MOD = 53  # eval/benchmark set = docs with doc_id % EVAL_MOD == 0


def _decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Gopher A1.2): flag
    train docs sharing word n-grams with a pinned eval subset. The eval
    shingle set is broadcast — the 100 TB train side is never shuffled
    for the membership join (contamination.py)."""
    from comet_spark.operators.contamination import decontaminate

    docs = _docs_par(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    # eval/train shingle sets are filtered views of the ONE cached
    # corpus-wide shingle table (same NGRAM_N)
    sh = _doc_shingles(spark, sf_dir)
    out = decontaminate(
        tr, ev, n=NGRAM_N,
        train_shingles=sh.filter(F.col("id") % EVAL_MOD != 0),
        eval_shingles=sh.filter(F.col("id") % EVAL_MOD == 0),
        # r13: per-doc totals come in-row from the cached sets table
        # instead of re-aggregating the exploded one (identical counts)
        train_sets=_doc_shingle_sets(spark, sf_dir).filter(
            F.col("id") % EVAL_MOD != 0
        ),
    )
    # r14: terminal orderBy dropped — the sort's sampling pass re-ran the
    # membership-join segment every execution (see repetition_metrics)
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_contaminated",
        "contaminated_frac", "n_eval_docs_hit",
    )


_register(
    "decontam_ngram",
    _decontam,
    f"""
WITH {_SQL_SHINGLES},
ev AS (SELECT id AS eval_id, shingle FROM sh WHERE id % {EVAL_MOD} = 0),
tr AS (SELECT id, shingle FROM sh WHERE id % {EVAL_MOD} <> 0),
tot AS (SELECT id, count(*) AS n_shingles FROM tr GROUP BY id),
hits AS (SELECT tr.id, count(DISTINCT tr.shingle) AS n_contaminated,
                count(DISTINCT ev.eval_id) AS n_eval_docs_hit
         FROM tr JOIN ev USING (shingle) GROUP BY tr.id)
SELECT t.id AS doc_id, t.n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       ROUND(COALESCE(h.n_contaminated, 0)::DOUBLE / t.n_shingles, 6) AS contaminated_frac,
       COALESCE(h.n_eval_docs_hit, 0) AS n_eval_docs_hit
FROM tot t LEFT JOIN hits h ON t.id = h.id
ORDER BY doc_id
""",
)


def _minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import minhash_lsh_pairs

    # sets_df (r13): in-row signatures + set-intersection verify — the
    # only shuffles left are the band self-join and candidate distinct
    return minhash_lsh_pairs(
        _docs_par(spark, sf_dir),
        n=NGRAM_N, n_hashes=N_HASHES, bands=LSH_BANDS, min_jaccard=MIN_JACCARD,
        sets_df=_doc_shingle_sets(spark, sf_dir),
    )


def _sql_minhash_coeffs() -> str:
    from comet_spark.operators.dedup import minhash_coeffs

    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(N_HASHES)))
    return f"co AS (SELECT * FROM (VALUES {vals}) AS _co(i, a, b))"


def _sql_minhash_bsig(materialized: bool = False) -> str:
    """The shingle-hash → minhash-minima → band-signature CTE chain
    (``h``/``co``/``mh``/``bsig``), shared by the minhash_lsh_pairs and
    neardup_stream oracles so the hash scheme lives in ONE SQL fragment
    (its Spark twin: dedup.minhash_band_signatures). ``materialized``
    pins ``bsig`` for oracles that reference it many times — the
    planner would otherwise INLINE it per reference and re-expand the
    whole pipeline exponentially."""
    mat = " MATERIALIZED" if materialized else ""
    rpb = N_HASHES // LSH_BANDS
    return f"""h AS (SELECT id, (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647) AS h FROM sh),
{_sql_minhash_coeffs()},
mh AS (SELECT id, i, min((a * h + b) % 2147483647) AS mh FROM h CROSS JOIN co GROUP BY id, i),
bsig AS{mat} (SELECT id, i // {rpb} AS band,
                md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS sig
         FROM mh GROUP BY id, i // {rpb})"""


_register(
    "minhash_lsh_pairs",
    _minhash_lsh,
    f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_bsig()},
cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
         FROM bsig a JOIN bsig b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
inter AS (SELECT c.a_id, c.b_id, count(*) AS c
          FROM cand c JOIN sh sa ON sa.id = c.a_id
                      JOIN sh sb ON sb.id = c.b_id AND sb.shingle = sa.shingle
          GROUP BY c.a_id, c.b_id),
{_SQL_JACCARD_VERIFY}
SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= {MIN_JACCARD}
""",
)


# ★ the near-dup INGEST STREAM under the oracle gate (VERDICT r08 #1 —
# the last major subsystem whose output the hash gate had never touched):
# the admitted corpus is built by ``neardup_ingest_stream`` itself over
# deterministic micro-batches (``doc_id % 4``, one source file each,
# maxFilesPerTrigger=1, foreachBatch through Spark's real checkpoint
# machinery, survivors landing under ``out/batch=<id>``) WITH one
# injected crash: after the first drain the latest commit marker is
# deleted AND the signature store is COMPACTED (``compact_sig_store`` —
# the stream is stopped, so the out-of-band compact is inside the
# ownership contract), so the restart replays that batch through the
# ``assume_replay`` path against the rewritten store. The oracle
# recomputes the arrival-order greedy admission from scratch in SQL —
# per batch: drop docs colliding with previously-ADMITTED docs' band
# signatures, then the within-batch greedy (iterated "min of every
# bucket wins, bucket-mates drop" rounds, unrolled; sig-less docs pass
# unconditionally) — so equality proves the stream's restart + replay
# + store-compaction protocol changes NO admission decision vs a batch
# run of the same corpus in the same order (reference analog: dedup-by-
# max-score across the LSM read path, ``storage_merge.go:13-38``).
_NEARDUP_MOD = 4  # micro-batches per build
_NEARDUP_GREEDY_ROUNDS = 4  # SQL unroll depth (measured: 1 round at sf0.01)
_STREAM_ART_BUILT: set[tuple[str, str, str]] = {*()}


def _fresh_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str, out: str, build_fn,
    *, table: str = "documents", probe_paths: list[str] | None = None,
    probe_files: list[str] | None = None,
) -> DataFrame:
    """Corpus-signature-gated build-once scaffold shared by the
    STREAM-BUILT artifacts — the ``_fresh_bm25_artifact`` pattern with a
    parquet output table instead of a BM25 index: reopen when the
    signature matches and ``out`` probes readable, else run
    ``build_fn()`` (which owns its cleanup: rmtree the lineage) and
    stamp the signature LAST, so a crash mid-build re-routes the next
    session into the rebuild. ``table`` is the SOURCE table the
    signature must cover (events-derived artifacts pass "events" — a
    regenerated fixture must never serve a stale artifact).
    ``probe_paths``: additional parquet components the caller serves
    from (e.g. the CRUD gate's sibling STORE) — a partially-cleaned
    artifact (component gone, ``out`` intact) must route into the
    rebuild, not into per-query failures. ``probe_files``: non-parquet
    components checked by plain existence (version markers — these
    artifacts are POSIX-local by contract). Returns the raw artifact
    read (callers apply their own select — partition col ``batch`` is
    discoverable)."""
    # the corpus fingerprint is part of the once-per-session key: a
    # mid-session fixture regen must re-enter the sig check and rebuild
    # (the cross-session sig file alone can't catch it — the set would
    # short-circuit first; VERDICT r11)
    sig = _corpus_sig(sf_dir, table)
    key = (_skey(spark), sf_dir, base, sig)
    if key not in _STREAM_ART_BUILT:
        sig_path = f"{base}/corpus_sig.txt"
        try:
            with open(sig_path) as fh:
                fresh = sig != "" and fh.read() == sig
            if fresh:
                spark.read.parquet(out).first()  # artifact probes healthy
                for p in probe_paths or []:
                    spark.read.parquet(p).first()
                for p in probe_files or []:
                    if not os.path.exists(p):
                        raise FileNotFoundError(p)
        except Exception:
            fresh = False
        if not fresh:
            build_fn()
            with open(sig_path, "w") as fh:
                fh.write(sig)
        _STREAM_ART_BUILT.add(key)
    return spark.read.parquet(out)


def _batch_docid(df: DataFrame) -> DataFrame:
    return df.select(F.col("batch").cast("bigint").alias("batch"), "doc_id")


def _feed_drain(spark: SparkSession, src: str, start_stream, name: str):
    """(add, drain) pair shared by the live-stream artifact builders —
    one part file per ``add`` call → one micro-batch per trigger, and a
    drain that fails loudly on a hung stream (review r11: the skeleton
    was copy-pasted per builder; a timeout/ordering fix must land once)."""
    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    def _drain() -> None:
        q = start_stream()
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{name} artifact: stream did not drain")

    return _add, _drain


def _emb_vec_stream(spark: SparkSession, src: str) -> DataFrame:
    """The vector-feed readStream every embeddings-fed builder uses."""
    return (
        spark.readStream.schema("id bigint, vector array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _neardup_stream_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/neardup_stream"
    return _batch_docid(_fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_neardup_stream_artifact(spark, sf_dir, base),
    ))


class _scoped_shuffle_partitions:
    """Scope ``spark.sql.shuffle.partitions`` down for a one-time LOCAL
    artifact drive: per-micro-batch state-store commits and tiny
    per-batch aggregations pay a fixed cost PER PARTITION, so the
    session default of 200 multiplies pure overhead into every trigger
    (the stateful-shuffle knob SCALE.md documents — at cluster scale
    you size it to the key cardinality; these drives' key spaces are
    thousands of rows). Restored on exit so the driver's session is
    untouched for every other query. Values are partition-count
    invariant — this changes build time, never content."""

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int = 32):
        self.spark, self.n = spark, n

    def __enter__(self):
        try:
            self.old = self.spark.conf.get(self._KEY)
        except Exception:
            self.old = None
        self.spark.conf.set(self._KEY, str(self.n))

    def __exit__(self, *exc):
        # unset FIRST: conf.get on entry returns the EFFECTIVE default
        # ("200") even when the user never set the key, so a plain
        # set(old) would pin an explicit value over the unset state —
        # re-set only if the session's default differs from what we saw
        # (i.e. the user really had overridden it)
        c = self.spark.conf
        c.unset(self._KEY)
        if self.old is not None and c.get(self._KEY) != self.old:
            c.set(self._KEY, self.old)


def _drive_stream_with_crash(
    spark: SparkSession, *, name: str, rows: DataFrame, n_batches: int,
    src: str, ckpt: str, out: str, start_stream, batch_filter=None,
    between_drains=None, check_output=None,
) -> None:
    """Shared drive-crash-replay harness for the parquet-out stream-built
    oracle artifacts (neardup/decontam/sessionize; the bm25 builder keeps
    its own variant — its crash also deletes the index's state log and
    its non-vacuity probe reads that log, not an output partition). Feeds
    ``rows`` as one part file per micro-batch — ``batch_filter(i)``
    selects batch i's rows, default ``doc_id % n_batches == i`` — drains
    through the REAL checkpoint machinery, injects a crash after the
    first drain (``_lose_latest_commit`` + the caller's
    ``between_drains`` leg), feeds the rest and drains again, then
    asserts NON-VACUOUSLY that the crashed batch was replayed (its
    ``out/batch=N`` partition rewrote with fresh part files — N is the
    first drain's LATEST batch, the one whose commit marker the crash
    deletes; under a watermark that can be a no-data flush batch, not
    the last file batch) and that the operator did real work: the
    default check asserts rows were dropped; ``check_output(out_df)``
    replaces it for operators whose output is not a kept-subset of the
    input. POSIX-local like ``_lose_latest_commit`` itself."""
    import glob

    if batch_filter is None:
        batch_filter = lambda i: F.col("doc_id") % n_batches == i  # noqa: E731

    def _add_batches(idxs) -> None:
        for i in idxs:  # one part file per batch predicate → one micro-batch
            rows.filter(batch_filter(i)).repartition(
                1
            ).write.mode("append").parquet(src)

    def _drain() -> None:
        q = start_stream()
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{name} artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        _add_batches(range(2))
        _drain()
        crash_dirs = glob.glob(f"{out}/batch=*")
        if not crash_dirs:
            raise RuntimeError(f"{name} artifact: first drain emitted nothing")
        crash_dir = max(crash_dirs, key=lambda d: int(d.rsplit("=", 1)[1]))
        before = set(glob.glob(f"{crash_dir}/*"))
        _lose_latest_commit(ckpt)  # injected crash → that batch replays
        if between_drains is not None:
            between_drains()
        _add_batches(range(2, n_batches))
        _drain()
    # non-vacuity: the replay must have actually re-run the crashed
    # batch (its partition is OVERWRITTEN with fresh part files) ...
    after = set(glob.glob(f"{crash_dir}/*"))
    if not before or before == after:
        raise RuntimeError(
            f"{name} artifact: {os.path.basename(crash_dir)} was not "
            "replayed — the injected crash did not engage"
        )
    # ... and the operator must have done real work
    if check_output is not None:
        check_output(spark.read.parquet(out))
        return
    n_kept = spark.read.parquet(out).count()
    n_in = rows.count()
    if not n_kept < n_in:
        raise RuntimeError(
            f"{name} artifact: {n_kept}/{n_in} kept — nothing dropped, "
            "the operator would be vacuous"
        )


def _build_neardup_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the
    bm25_stream builder: glob/shutil on a local checkpoint dir)."""
    import shutil

    from comet_spark.streaming.ingest import (
        compact_sig_store,
        neardup_ingest_stream,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    sigs, out = f"{base}/sigs", f"{base}/out"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _start():
        return neardup_ingest_stream(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            sigs, out, id_col="doc_id", text_col="text",
            n=NGRAM_N, n_hashes=N_HASHES, bands=LSH_BANDS,
            checkpoint=ckpt,
        )

    def _compact_sigs() -> None:
        # sig-store compaction between the drains: the restarted stream
        # replays batch 1 (assume_replay) against the COMPACTED store —
        # both the replay heal and the compaction are under the oracle
        if not compact_sig_store(spark, sigs, min_files=0):
            raise RuntimeError(
                "neardup_stream artifact: sig-store compact was a no-op "
                "— the compaction leg would be vacuous"
            )

    _drive_stream_with_crash(
        spark, name="neardup_stream", rows=docs, n_batches=_NEARDUP_MOD,
        src=src, ckpt=ckpt, out=out, start_stream=_start,
        between_drains=_compact_sigs,
    )


def _sql_neardup_stream() -> str:
    """Generated oracle: the arrival-order greedy admission, unrolled —
    batches by ``doc_id % _NEARDUP_MOD`` in order, history = band sigs of
    previously-admitted docs, within-batch greedy iterated
    ``_NEARDUP_GREEDY_ROUNDS`` times (converges in 1 on this corpus; a
    too-shallow unroll under-admits and fails the hash gate loudly)."""
    # every multiply-referenced CTE is MATERIALIZED: the unrolled rounds
    # reference their predecessor several times each, and letting the
    # planner INLINE them re-expands the whole shingle→minhash pipeline
    # exponentially (observed as fd exhaustion re-opening the parquet)
    parts = [
        _SQL_SHINGLES.strip().rstrip(","),
        _sql_minhash_bsig(materialized=True),
        "nosig AS MATERIALIZED (SELECT doc_id AS id FROM documents"
        " WHERE doc_id NOT IN (SELECT DISTINCT id FROM bsig))",
    ]
    admitted = []
    for b in range(_NEARDUP_MOD):
        parts.append(
            f"b{b} AS MATERIALIZED (SELECT id, band, sig FROM bsig"
            f" WHERE id % {_NEARDUP_MOD} = {b})"
        )
        if b == 0:
            parts.append(f"f{b} AS (SELECT * FROM b{b})")
        else:
            hist = " UNION ALL ".join(
                f"SELECT band, sig FROM bsig WHERE id IN (SELECT id FROM kept{p})"
                for p in range(b)
            )
            parts.append(f"hist{b} AS MATERIALIZED ({hist})")
            parts.append(
                f"f{b} AS (SELECT * FROM b{b} WHERE id NOT IN"
                f" (SELECT DISTINCT x.id FROM b{b} x JOIN hist{b} USING (band, sig)))"
            )
        parts.append(f"c{b}_0 AS MATERIALIZED (SELECT * FROM f{b})")
        for r in range(_NEARDUP_GREEDY_ROUNDS):
            c, nxt = f"c{b}_{r}", f"c{b}_{r + 1}"
            parts.extend(
                [
                    f"g{b}_{r} AS (SELECT band, sig, min(id) AS mn FROM {c} GROUP BY band, sig)",
                    f"dom{b}_{r} AS (SELECT DISTINCT x.id FROM {c} x"
                    f" JOIN g{b}_{r} g USING (band, sig) WHERE x.id > g.mn)",
                    f"win{b}_{r} AS MATERIALIZED (SELECT DISTINCT id FROM {c}"
                    f" WHERE id NOT IN (SELECT id FROM dom{b}_{r}))",
                    f"hit{b}_{r} AS (SELECT DISTINCT band, sig FROM {c}"
                    f" WHERE id IN (SELECT id FROM win{b}_{r}))",
                    f"dec{b}_{r} AS (SELECT DISTINCT x.id FROM {c} x"
                    f" JOIN hit{b}_{r} USING (band, sig))",
                    f"{nxt} AS MATERIALIZED (SELECT * FROM {c}"
                    f" WHERE id NOT IN (SELECT id FROM dec{b}_{r}))",
                ]
            )
        wins = " UNION ".join(
            f"SELECT id FROM win{b}_{r}" for r in range(_NEARDUP_GREEDY_ROUNDS)
        )
        parts.append(f"kept{b} AS MATERIALIZED ({wins})")
        parts.append(
            f"adm{b} AS (SELECT id FROM kept{b}"
            f" UNION SELECT id FROM nosig WHERE id % {_NEARDUP_MOD} = {b})"
        )
        admitted.append(f"SELECT id FROM adm{b}")
    union = " UNION ALL ".join(admitted)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT (id % {_NEARDUP_MOD}) AS batch, id AS doc_id FROM ({union})"
    )


_register("neardup_stream_admitted", _neardup_stream_admitted, _sql_neardup_stream())


# ★ the decontamination INGEST STREAM under the oracle gate (the
# neardup_stream recipe applied to the trio's other member): the clean
# corpus is built by ``decontam_ingest_stream`` itself — eval docs
# (``doc_id % 10 = 0``) pinned once as a word-8-gram shingle table
# (``pin_eval_shingles``), train docs streamed in 3 micro-batches
# (``doc_id % 3``) through the real checkpoint machinery, clean rows
# landing under ``out/batch=<id>`` — WITH one injected crash after the
# first drain, so the restart replays batch 1 (pure-function decision +
# partition overwrite = the documented replay idempotency, here actually
# driven and hashed). The oracle recomputes the GPT-3 appendix-C rule
# from scratch in SQL: a train doc is dropped iff ANY of its 8-gram
# shingles occurs in the eval set.
_DECONTAM_EVAL_MOD = 10  # eval split for THIS query (decontam_ngram uses 53)
_DECONTAM_TRAIN_MOD = 3  # micro-batches per build
_DECONTAM_NGRAM = 8  # the GPT-3 rule / decontam_ingest default
def _decontam_stream_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/decontam_stream"
    return _batch_docid(_fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_decontam_stream_artifact(spark, sf_dir, base),
    ))


def _build_decontam_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the
    bm25/neardup stream builders)."""
    import shutil

    from comet_spark.streaming.ingest import (
        decontam_ingest_stream,
        pin_eval_shingles,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    ev, out = f"{base}/eval_shingles", f"{base}/out"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % _DECONTAM_EVAL_MOD == 0
    pin_eval_shingles(
        docs.filter(is_eval), ev,
        id_col="doc_id", text_col="text", n=_DECONTAM_NGRAM,
    )
    train = docs.filter(~is_eval)

    def _start():
        return decontam_ingest_stream(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            ev, out, id_col="doc_id", text_col="text", n=_DECONTAM_NGRAM,
            checkpoint=ckpt,
        )

    _drive_stream_with_crash(
        spark, name="decontam_stream", rows=train, n_batches=_DECONTAM_TRAIN_MOD,
        src=src, ckpt=ckpt, out=out, start_stream=_start,
    )


def _sql_decontam_stream() -> str:
    n = _DECONTAM_NGRAM
    tok = _SQL_TOKENIZE.format(col="text")
    return f"""
WITH tok8 AS (SELECT doc_id AS id, {tok} AS toks FROM documents),
sh8 AS MATERIALIZED (SELECT * FROM (SELECT DISTINCT id,
           unnest(list_transform(range(1, greatest(len(toks)-{n - 1}, 1)+1),
                  i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS shingle
      FROM tok8) WHERE shingle != ''),
ev AS MATERIALIZED (SELECT DISTINCT shingle FROM sh8 WHERE id % {_DECONTAM_EVAL_MOD} = 0),
bad AS (SELECT DISTINCT id FROM sh8 JOIN ev USING (shingle)
        WHERE id % {_DECONTAM_EVAL_MOD} <> 0)
SELECT (doc_id % {_DECONTAM_TRAIN_MOD}) AS batch, doc_id
FROM documents
WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0
  AND doc_id NOT IN (SELECT id FROM bad)
"""


_register("decontam_stream_clean", _decontam_stream_clean, _sql_decontam_stream())


# ★ the STATEFUL streaming operator under the oracle gate (the last
# streaming surface that was test-only): closed gap-sessions are
# produced by ``sessionize_stream`` itself — applyInPandasWithState,
# per-user open-session state carried across micro-batches through
# Spark's REAL state store — over time-range micro-batches of the
# events table (ts-ordered ranges = in-order per-user arrival, the
# sessionizer's contract), WITH one injected crash after the first
# drain, so the restarted query replays batch 1 against the state
# store's RESTORED version (the state-versioning contract, here
# actually driven and hashed). The oracle recomputes gap
# sessionization from scratch in SQL and drops each user's LAST
# session — exactly the set a NoTimeout stream can never emit. The
# closed-session SET is batch-split-independent (every non-final
# session is closed by SOME later event, whichever batch it arrives
# in), so equality proves the state handoff, the replay, and the
# session arithmetic all at once.
_SESS_BATCHES = 3  # time-range micro-batches per build
_SESS_GAP_US = 30 * 60 * 1_000_000


def _sessionize_stream_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/sessionize_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_sessionize_stream_artifact(spark, sf_dir, base),
        table="events",
    ).select("user_id", "session_start_us", "session_end_us", "n_events")


def _build_sessionize_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import shutil

    from comet_spark.streaming.ingest import sessionize_stream

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    # epoch MICROS (the sessionizer's internal unit); `ts div 1000`
    # floors the int64-nanos contract column exactly like the oracle's
    # epoch_ns(ts) // 1000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus")
    )
    lo, hi = ev.agg(F.min("tus"), F.max("tus")).first()
    span = int(hi) - int(lo) + 1
    edges = [int(lo) + span * i // _SESS_BATCHES for i in range(_SESS_BATCHES + 1)]

    def _sink(df: DataFrame, bid: int) -> None:
        # replay overwrites its own partition — idempotent by STATE
        # versioning: the replayed batch reloads the state version it
        # first started from, so it re-emits byte-identical rows
        df.select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/batch={int(bid)}")

    def _start():
        sess = sessionize_stream(
            spark.readStream.schema("user_id bigint, tus bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("user_id", F.timestamp_micros(F.col("tus")).alias("ts")),
            ts_col="ts", user_col="user_id",
            gap_minutes=_SESS_GAP_US // 60_000_000,  # ONE constant drives
            # both the stream and the SQL oracle — they must never drift
        )
        return (
            sess.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def _check(out_df: DataFrame) -> None:
        # non-vacuity: state must actually CARRY across micro-batches —
        # some session emitted by a later batch must have started before
        # that batch's first possible event (the open session survived
        # the state handoff; closed-within-own-batch sessions don't
        # prove that)
        carried = out_df.filter(
            (F.col("batch") >= 1) & (F.col("session_start_us") < edges[1])
        ).count()
        if not carried:
            raise RuntimeError(
                "sessionize_stream artifact: no session crossed a "
                "micro-batch boundary — the stateful handoff would be "
                "vacuous"
            )

    _drive_stream_with_crash(
        spark, name="sessionize_stream", rows=ev, n_batches=_SESS_BATCHES,
        src=src, ckpt=ckpt, out=out, start_stream=_start,
        batch_filter=lambda i: (F.col("tus") >= edges[i])
        & (F.col("tus") < edges[i + 1]),
        check_output=_check,
    )


def _sql_sessionize_stream() -> str:
    """Generated oracle: gap-sessionize the whole events table in SQL
    (30-min strict gap on floored epoch-micros — the stream's own
    units), then drop each user's LAST session: a NoTimeout stream only
    emits a session when a LATER event closes it, so the final open
    session per user is never emitted, whatever the micro-batch split."""
    return f"""
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
g AS (SELECT user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
s AS (SELECT user_id, tus, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
sess AS (SELECT user_id, sid, min(tus) AS session_start_us,
                max(tus) AS session_end_us, count(*) AS n_events
         FROM s GROUP BY user_id, sid),
last AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY user_id)
SELECT sess.user_id, session_start_us, session_end_us, n_events
FROM sess JOIN last ON sess.user_id = last.user_id AND sess.sid < last.mx
"""


_register(
    "sessionize_stream_closed", _sessionize_stream_closed,
    _sql_sessionize_stream(),
)


# ★ IDLE-TIMEOUT sessionization under the oracle gate (VERDICT r09 #3 —
# the production shape the NoTimeout gate deliberately lacks): the same
# stateful operator run under ``EventTimeTimeout`` + a 2 h watermark,
# so an idle session EMITS (and its state row EVICTS — bounded state
# under users who disappear) once the event-time watermark strictly
# passes ``last_event + gap``. Driven over ts-ordered time-range
# micro-batches with the same injected crash (the replayed batch can be
# the no-data timeout-flush batch — the wincount pitfall, handled by
# the shared harness). Oracle = FULL SQL gap-sessionization (no
# last-session drop) restricted by the exact firing rule Spark applies:
# emitted iff closed by a later event OR
# ``floor(last_us/1000) + gap_ms < floor(max_us/1000) − delay_ms``
# (watermarks are tracked in whole milliseconds; firing is strict —
# both pinned by test_sessionize_stream_idle_timeout). Equality proves
# the timeout arming, the state eviction, the watermark arithmetic, and
# the crash replay all at once; the harness asserts a session was
# emitted by TIMEOUT (not just by a successor event) and that the
# watermark held at least one open session back.
_SESS_TO_DELAY_US = 2 * 3_600 * 1_000_000  # 2 h idle-close watermark


def _sessionize_stream_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/sessionize_stream_to"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_sessionize_timeout_artifact(spark, sf_dir, base),
        table="events",
    ).select("user_id", "session_start_us", "session_end_us", "n_events")


def _build_sessionize_timeout_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import shutil

    from comet_spark.streaming.ingest import sessionize_stream

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus")
    )
    lo, hi = ev.agg(F.min("tus"), F.max("tus")).first()
    span = int(hi) - int(lo) + 1
    edges = [int(lo) + span * i // _SESS_BATCHES for i in range(_SESS_BATCHES + 1)]

    def _sink(df: DataFrame, bid: int) -> None:
        # replay overwrites its own partition — idempotent by state
        # versioning (the replayed batch re-fires the same timeouts
        # against the restored state-store version)
        df.select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/batch={int(bid)}")

    def _start():
        sess = sessionize_stream(
            spark.readStream.schema("user_id bigint, tus bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("user_id", F.timestamp_micros(F.col("tus")).alias("ts")),
            ts_col="ts", user_col="user_id",
            gap_minutes=_SESS_GAP_US // 60_000_000,
            idle_close_watermark=f"{_SESS_TO_DELAY_US // 1_000_000} seconds",
        )
        return (
            sess.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def _check(out_df: DataFrame) -> None:
        # the NoTimeout gate's emitted set = all non-final sessions; a
        # TIMEOUT emission is any emitted session that is its user's
        # FINAL one. Recompute each user's final-session horizon from
        # the source and require: ≥1 final session emitted (timeout
        # fired) and ≥1 final session absent (watermark held it back).
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("tus").desc())
        runs = ev.withColumn("rk", F.row_number().over(w))
        last_ev = runs.filter(F.col("rk") == 1).select(
            "user_id", F.col("tus").alias("last_us")
        )
        # a final session's end == the user's max event time
        finals = out_df.join(
            last_ev,
            (out_df.user_id == last_ev.user_id)
            & (out_df.session_end_us == last_ev.last_us),
        )
        n_fired = finals.count()
        n_held = last_ev.count() - n_fired
        if not (n_fired > 0 and n_held > 0):
            raise RuntimeError(
                f"sessionize_timeout artifact: fired={n_fired} "
                f"held={n_held} — the timeout leg or the watermark "
                "hold-back would be vacuous"
            )
        # and state must still carry across micro-batches
        carried = out_df.filter(
            (F.col("batch") >= 1) & (F.col("session_start_us") < edges[1])
        ).count()
        if not carried:
            raise RuntimeError(
                "sessionize_timeout artifact: no session crossed a "
                "micro-batch boundary — the stateful handoff would be "
                "vacuous"
            )

    _drive_stream_with_crash(
        spark, name="sessionize_timeout", rows=ev, n_batches=_SESS_BATCHES,
        src=src, ckpt=ckpt, out=out, start_stream=_start,
        batch_filter=lambda i: (F.col("tus") >= edges[i])
        & (F.col("tus") < edges[i + 1]),
        check_output=_check,
    )


def _sql_sessionize_timeout() -> str:
    """Generated oracle: FULL gap-sessionization (no last-session drop),
    restricted by the timeout firing rule — a session is emitted iff a
    later same-user event closed it (sid < the user's max sid) or the
    final event-time watermark strictly passed its idle horizon:
    ``floor(end_us/1000) + gap_ms < floor(max_us/1000) − delay_ms``
    (Spark tracks watermarks in whole ms and fires strictly)."""
    gap_ms = _SESS_GAP_US // 1000
    delay_ms = _SESS_TO_DELAY_US // 1000
    return f"""
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
g AS (SELECT user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
s AS (SELECT user_id, tus, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
sess AS (SELECT user_id, sid, min(tus) AS session_start_us,
                max(tus) AS session_end_us, count(*) AS n_events
         FROM s GROUP BY user_id, sid),
last AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY user_id),
wm AS (SELECT (max(tus) // 1000) - {delay_ms} AS w FROM e)
SELECT sess.user_id, session_start_us, session_end_us, n_events
FROM sess JOIN last ON sess.user_id = last.user_id, wm
WHERE sess.sid < last.mx
   OR (session_end_us // 1000) + {gap_ms} < wm.w
"""


_register(
    "sessionize_stream_timeout", _sessionize_stream_timeout,
    _sql_sessionize_timeout(),
)


# ★ WATERMARK semantics under the oracle gate: hourly tumbling-window
# event counts are produced by ``windowed_event_counts`` itself in
# APPEND mode — a window row is emitted exactly once, when the
# event-time watermark (max event time − 2 h, checkpointed state)
# passes its end — over time-range micro-batches WITH one injected
# crash after the first drain (the replayed batch re-finalizes the
# same windows against the RESTORED watermark, so its partition
# overwrite is byte-identical). The oracle recomputes the counts from
# scratch in SQL and keeps exactly the windows the final watermark
# closed: window_end ≤ max(ts) − 2 h. Equality proves the watermark
# arithmetic, the append-mode finalization, and the replay all at
# once; the held-back tail (windows after the final watermark) is
# asserted non-empty so the gate can't pass on "emitted everything".
_WINCOUNT_BATCHES = 3
_WIN_US = 3_600 * 1_000_000  # 1 h window
_WM_US = 2 * 3_600 * 1_000_000  # 2 h watermark delay


def _wincount_stream_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/wincount_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_wincount_stream_artifact(spark, sf_dir, base),
        table="events",
    ).select("window_start_us", "event_type", "n_events")


def _build_wincount_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import shutil

    from comet_spark.streaming.ingest import windowed_event_counts

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("tus")
    )
    lo, hi = ev.agg(F.min("tus"), F.max("tus")).first()
    span = int(hi) - int(lo) + 1
    edges = [
        int(lo) + span * i // _WINCOUNT_BATCHES
        for i in range(_WINCOUNT_BATCHES + 1)
    ]

    def _sink(df: DataFrame, bid: int) -> None:
        # append-mode batch df = the windows THIS batch finalized;
        # replay re-finalizes the same set against the restored
        # watermark — partition overwrite is idempotent
        df.select(
            F.unix_micros("window_start").alias("window_start_us"),
            "event_type",
            "n_events",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/batch={int(bid)}")

    def _start():
        agg = windowed_event_counts(
            spark.readStream.schema("event_type string, tus bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("event_type", F.timestamp_micros(F.col("tus")).alias("ts")),
            ts_col="ts", key_col="event_type",
            # ONE constant drives both the stream and the SQL oracle —
            # they must never drift
            window=f"{_WIN_US // 1_000_000} seconds",
            watermark=f"{_WM_US // 1_000_000} seconds",
        )
        return (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def _check(out_df: DataFrame) -> None:
        # non-vacuity: the final watermark must have HELD BACK the tail
        # — emitting every window would make the append-mode gate
        # indistinguishable from a complete-mode recount
        n_emitted = out_df.count()
        n_total = (
            ev.groupBy(
                (F.col("tus") - F.col("tus") % _WIN_US).alias("ws"),
                "event_type",
            ).count().count()
        )
        if not 0 < n_emitted < n_total:
            raise RuntimeError(
                f"wincount_stream artifact: {n_emitted}/{n_total} windows "
                "emitted — the watermark held back nothing, the append "
                "gate would be vacuous"
            )

    _drive_stream_with_crash(
        spark, name="wincount_stream", rows=ev, n_batches=_WINCOUNT_BATCHES,
        src=src, ckpt=ckpt, out=out, start_stream=_start,
        batch_filter=lambda i: (F.col("tus") >= edges[i])
        & (F.col("tus") < edges[i + 1]),
        check_output=_check,
    )


def _sql_wincount_stream() -> str:
    """Generated oracle: hourly counts per event_type over the whole
    events table, restricted to the windows the FINAL watermark closed
    (window_end ≤ max event time − 2 h — Spark finalizes an append-mode
    window when the watermark reaches its end)."""
    return f"""
WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type FROM events),
mx AS (SELECT max(tus) AS m FROM e)
SELECT (tus // {_WIN_US}) * {_WIN_US} AS window_start_us, event_type,
       count(*) AS n_events
FROM e, mx
GROUP BY 1, 2, m
HAVING (tus // {_WIN_US}) * {_WIN_US} + {_WIN_US} <= m - {_WM_US}
"""


_register(
    "wincount_stream_final", _wincount_stream_final, _sql_wincount_stream()
)


# ★ the streaming SKETCH state under the oracle gate: the per-event-type
# distinct-user HLL register table is accumulated by ``hll_stream``
# itself (foreachBatch: per-batch partial registers max-merge into the
# persistent state parquet) over 3 micro-batches WITH one injected
# crash after the first drain — the replayed batch RE-merges its
# partial into a state that already contains it, so the gate proves the
# sketch's replay story is ALGEBRAIC idempotence (max-merge), not state
# rollback: there is no versioned state store here, just the register
# table, and re-delivery must not change it. The oracle recomputes the
# registers over the whole corpus in SQL (the hll_distinct_terms
# md5-register shape); equality = merge-of-parts == sketch-of-whole,
# under crash-re-delivery. Replay non-vacuity: the deleted commit
# marker must be RE-created by the second run (Spark only writes it
# after re-executing the batch).
_HLL_STREAM_BATCHES = 3


def _hll_stream_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/hll_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/state",
        lambda: _build_hll_stream_artifact(spark, sf_dir, base),
        table="events",
    ).select("event_type", "bucket", "mj")


def _build_hll_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders; replay is proved by marker re-creation because the
    output is ONE merged state table, not batch partitions)."""
    import shutil

    from comet_spark.streaming.ingest import hll_stream

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, state = f"{base}/src", f"{base}/ckpt", f"{base}/state"
    # the value column must be the DECIMAL STRING: _hash32 md5s the
    # column's bytes, and the oracle md5s user_id::VARCHAR
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("user_id").cast("string").alias("uid")
    )

    def _add_batches(idxs) -> None:
        for i in idxs:
            ev.filter(F.col("event_id") % _HLL_STREAM_BATCHES == i).repartition(
                1
            ).write.mode("append").parquet(src)

    def _drain() -> None:
        q = hll_stream(
            spark.readStream.schema("event_id bigint, event_type string, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            ["event_type"], "uid", state, b=6, checkpoint=ckpt,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("hll_stream artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        _add_batches(range(2))
        _drain()
        if spark.read.parquet(state).count() == 0:
            raise RuntimeError("hll_stream artifact: no registers after drain 1")
        _lose_latest_commit(ckpt)  # injected crash → latest batch re-delivers
        marker = f"{ckpt}/commits/1"
        if os.path.exists(marker):
            raise RuntimeError("hll_stream artifact: commit marker not deleted")
        _add_batches(range(2, _HLL_STREAM_BATCHES))
        _drain()
    # non-vacuity: the marker can only reappear AFTER the batch re-ran —
    # the re-delivered partial merged into a state that already held it,
    # so oracle equality below proves max-merge idempotence
    if not os.path.exists(marker):
        raise RuntimeError(
            "hll_stream artifact: commit 1 was not re-created — the "
            "injected crash did not engage"
        )


def _sql_hll_stream() -> str:
    """Generated oracle: the md5-register HLL state over the whole
    events table (the hll_distinct_terms register shape, value =
    user_id as its decimal string)."""
    return """
WITH h AS (SELECT event_type,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
           FROM events),
r AS (SELECT event_type, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 27
                  ELSE 27 - length(bin(h >> 6)) END AS rho
      FROM h)
SELECT event_type, bucket, max(rho) AS mj
FROM r GROUP BY event_type, bucket
"""


_register("hll_stream_users", _hll_stream_users, _sql_hll_stream())


# ★ the store's own streaming ingest under the oracle gate:
# ``stream_into_store`` appends one immutable segment per micro-batch
# and — by documented design — does NOT id-probe replays (its stream
# legitimately carries upserts, which an id match cannot distinguish
# from a redelivery), so a crash-replayed batch lands ONE duplicate
# segment that the newest-(segment,__seq)-wins read must hide. This
# query drives exactly that claim: 3 micro-batches (doc_id % 3), an
# injected crash after the first drain (the replay appends the
# duplicate — asserted structurally: residue-1 ids live in exactly two
# segments), and batch 2 carrying BOTH new docs AND upserts (every
# residue-0 doc re-sent with ``text || ' v2'``). Oracle = the corpus
# with the upserts applied; equality proves the duplicate segment is
# invisible and the upserts won — the reference's merge-on-read story
# (storage_merge.go) under an actual crash.
_STORE_STREAM_MOD = 3


def _store_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/store_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_store_stream_artifact(spark, sf_dir, base),
    ).select("doc_id", "text_md5")


def _build_store_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders; the upsert leg makes this drive its own batch
    construction instead of _drive_stream_with_crash's uniform feed)."""
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import stream_into_store

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    store_path = f"{base}/store"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    def _drain() -> None:
        q = stream_into_store(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, store_path, id_col="doc_id"),
            checkpoint=ckpt,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("store_stream artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        for i in range(2):
            _add(docs.filter(F.col("doc_id") % _STORE_STREAM_MOD == i))
        _drain()
        _lose_latest_commit(ckpt)  # injected crash → batch 1 re-appends
        # batch 2: the remaining residue AND an upsert of every
        # residue-0 doc (same ids, new payloads — the case the id-probe
        # skip would misclassify, which is WHY this stream doesn't have
        # one)
        _add(
            docs.filter(F.col("doc_id") % _STORE_STREAM_MOD == 2).unionByName(
                docs.filter(F.col("doc_id") % _STORE_STREAM_MOD == 0).select(
                    "doc_id",
                    F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                )
            )
        )
        _drain()
    store = DocumentStore(spark, store_path, id_col="doc_id")
    # non-vacuity 1: the replay actually landed its duplicate segment —
    # 3 fed micro-batches must have left FOUR segments (order-robust:
    # whichever batch the deleted latest commit belonged to, only a
    # re-execution can append the extra segment)
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"store_stream artifact: {n_seg} segments for 3 fed batches "
            "(want 4) — the crash-replay duplicate did not land"
        )
    merged = store.read()
    # non-vacuity 2: every surviving residue-0 doc carries the upsert
    stale = merged.filter(
        (F.col("doc_id") % _STORE_STREAM_MOD == 0)
        & ~F.coalesce(F.col("text"), F.lit("")).endswith(" v2")
        & F.col("text").isNotNull()
    ).count()
    if stale:
        raise RuntimeError(
            f"store_stream artifact: {stale} residue-0 docs still serve "
            "the pre-upsert payload — newest-wins did not apply"
        )
    merged.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
    ).coalesce(1).write.mode("overwrite").parquet(out)


_register(
    "store_stream_upsert",
    _store_stream_upsert,
    f"""
SELECT doc_id,
       md5(CASE WHEN doc_id % {_STORE_STREAM_MOD} = 0 THEN text || ' v2'
                ELSE text END) AS text_md5
FROM documents
""",
)


# ★ DELETES VIA THE STREAM (VERDICT r09 #2 — closes the CRUD ×
# streaming matrix): the reference's Remove rides the same write path
# as Add/Update (``storage.go``); here delete markers ride micro-batches
# through ``stream_into_store(op_col="op")`` — per batch the upserts
# land as one segment, then the markers apply as ONE sequenced soft
# delete (DocumentStore.delete's watermark rule). The drive: batch 0
# inserts residues {0,1} (mod 4), batch 1 carries DELETE markers for
# every residue-0 doc PLUS residue-2 inserts — and the injected crash
# replays exactly THIS batch, so the delete is re-issued at a fresh
# watermark over the replay's duplicate segment — batch 2 inserts
# residue 3 and RE-APPENDS half the deleted ids (doc_id % 8 = 0) with a
# new payload, which must RESURRECT them past their delete watermark.
# Oracle = the corpus minus the permanently-deleted ids (doc_id % 8 =
# 4) with the resurrection payloads applied. Equality proves: markers
# delete ids that were LIVE in an earlier segment, the crash-replayed
# delete hides the replay's own duplicate rows, and re-append-after-
# delete stays visible — the store's J6 sequencing, driven end-to-end
# over the stream.
_STORE_DELETE_MOD = 4


def _store_stream_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/store_stream_delete"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_store_stream_delete_artifact(spark, sf_dir, base),
        # bm25_crud_merge_score serves from the sibling STORE, so its
        # health gates freshness too (a store-only cleanup must rebuild).
        # _deletes is probed as well: the builder always issues delete
        # markers, so a healthy artifact MUST have the dir — without the
        # probe a deletes-only cleanup would serve the store with every
        # deletion un-applied (ADVICE r10: _FS.listdir returns [] for a
        # missing path, so read() silently skips the delete anti-join)
        probe_paths=[f"{base}/store/data", f"{base}/store/_deletes"],
    ).select("doc_id", "text_md5")


def _build_store_stream_delete_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders; drives its own batch construction — each batch
    mixes ops, not a uniform residue feed)."""
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import stream_into_store

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    store_path = f"{base}/store"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = lambda m: F.col("doc_id") % _STORE_DELETE_MOD == m  # noqa: E731

    def _ins(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", "text", F.lit(None).cast("string").alias("op")
        )

    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    def _drain() -> None:
        q = stream_into_store(
            spark.readStream.schema("doc_id bigint, text string, op string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, store_path, id_col="doc_id"),
            checkpoint=ckpt, op_col="op",
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "store_stream_delete artifact: stream did not drain"
            )

    with _scoped_shuffle_partitions(spark):
        _add(_ins(docs.filter(res(0) | res(1))))  # batch 0: inserts
        # batch 1: delete markers for residue 0 + residue-2 inserts —
        # the latest commit of the first drain, i.e. the batch the
        # injected crash replays
        _add(
            docs.filter(res(0)).select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit("delete").alias("op"),
            ).unionByName(_ins(docs.filter(res(2))))
        )
        _drain()
        _lose_latest_commit(ckpt)  # → the delete-carrying batch replays
        # batch 2: residue-3 inserts + resurrection re-appends (half the
        # deleted set, new payload — must be visible past the watermark)
        _add(
            _ins(docs.filter(res(3))).unionByName(
                docs.filter(F.col("doc_id") % 8 == 0).select(
                    "doc_id",
                    F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                    F.lit(None).cast("string").alias("op"),
                )
            )
        )
        _drain()
    store = DocumentStore(spark, store_path, id_col="doc_id")
    # non-vacuity 1: the replay landed its duplicate segment — 3 fed
    # micro-batches must have left FOUR segments
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"store_stream_delete artifact: {n_seg} segments for 3 fed "
            "batches (want 4) — the crash-replay duplicate did not land"
        )
    # non-vacuity 2: the replayed batch RE-ISSUED its delete — the
    # deletes table holds exactly two marker sets for the residue-0 ids
    n_res0 = docs.filter(res(0)).count()
    n_del_rows = spark.read.parquet(store.deletes_path).count()
    if n_res0 == 0 or n_del_rows != 2 * n_res0:
        raise RuntimeError(
            f"store_stream_delete artifact: {n_del_rows} delete rows for "
            f"{n_res0} marked ids (want 2x) — the delete replay did not "
            "engage"
        )
    merged = store.read()
    # non-vacuity 3: deletion and resurrection both really happened —
    # the permanently-deleted residue is gone (it WAS live in segment
    # 0), and every resurrected id serves the re-append payload
    n_gone = merged.filter(F.col("doc_id") % 8 == 4).count()
    stale = merged.filter(
        (F.col("doc_id") % 8 == 0)
        & ~F.coalesce(F.col("text"), F.lit("")).endswith(" v2")
        # NULL-text source docs resurrect with concat(text,' v2') = NULL
        # — not stale, just a NULL payload (ADVICE r10: without this a
        # fixture regen with NULL texts spuriously fails the build)
        & F.col("text").isNotNull()
    ).count()
    n_res8 = docs.filter(F.col("doc_id") % 8 == 4).count()
    if n_res8 == 0 or n_gone or stale:
        raise RuntimeError(
            f"store_stream_delete artifact: gone={n_gone} stale={stale} "
            f"marked={n_res8} — delete/resurrect did not engage"
        )
    merged.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
    ).coalesce(1).write.mode("overwrite").parquet(out)


_register(
    "store_stream_delete",
    _store_stream_delete,
    """
SELECT doc_id,
       md5(CASE WHEN doc_id % 8 = 0 THEN text || ' v2'
                ELSE text END) AS text_md5
FROM documents
WHERE doc_id % 8 <> 4
""",
)


# ★ TEXT SEARCH OVER THE STREAM-CRUD'D STORE via the LSM merge view:
# the postings index documents "route upserts/resurrections through the
# merge view" — this gate HASHES that route. It reopens
# store_stream_delete's artifact store (crash-replayed duplicate
# segment, upserts, a sequenced delete, resurrections past the
# watermark), builds BM25 over ``store.read()`` — the newest-wins +
# delete-watermark merged view — and scores. Oracle = BM25 SQL over the
# CRUD-final corpus (permanently-deleted residue gone, resurrection
# payloads applied — the ' v2' suffix changes tf/dl AND the corpus
# stats, so a stale pre-upsert row or an unapplied delete shifts every
# score). Equality proves the reference's merge-on-read text story
# (storage.go:489-629) composes with streamed CRUD end-to-end.
_CRUD_BM25_CACHE: dict[tuple[str, str, str], BM25] = {}


def _bm25_crud_index(spark: SparkSession, sf_dir: str) -> BM25:
    from comet_spark.storage.store import DocumentStore

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _CRUD_BM25_CACHE:
        _evict_superseded(_CRUD_BM25_CACHE, key, _unpersist_bm25)
        base = f"{_art_dir(sf_dir)}/store_stream_delete"
        # the artifact scaffold's probe_paths covers the sibling store:
        # a partially-cleaned artifact routes into one rebuild here
        _store_stream_delete(spark, sf_dir)
        store = DocumentStore(spark, f"{base}/store", id_col="doc_id")
        # normalize=False: the driver corpus is ASCII-asserted
        # (tests/test_text.py) and the ' v2' suffix is ASCII; cache=True
        # pays the merged-view tokenize once per session, like the
        # other repeat-scored BM25 gates
        _CRUD_BM25_CACHE[key] = BM25(
            store.read(), id_col="doc_id", text_col="text",
            normalize=False, cache=True,
        )
    return _CRUD_BM25_CACHE[key]


def _bm25_crud_merge_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_crud_index(spark, sf_dir)
    return bm.score(BM25_QUERY, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "bm25_crud_merge_score",
    _bm25_crud_merge_score,
    f"""
WITH dmod AS (SELECT doc_id,
                     CASE WHEN doc_id % 8 = 0 THEN text || ' v2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 8 <> 4),
{_sql_bm25_ctes(table="dmod").strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY).strip().rstrip(',')}
SELECT id AS doc_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}
""",
)


# ★ STREAM-BUILT ANN INDEX under the oracle gate (VERDICT r09 #1 — the
# vector twin of bm25_stream_score, the last modality × streaming
# cell): vectors stream into a DocumentStore through Spark's real
# checkpoint machinery (one segment per micro-batch, vec_id % 3) WITH
# an injected crash after the first drain AND an upsert leg (batch 2
# re-sends every residue-0 vector NEGATED — elementwise -x, exact in
# IEEE, so a missed upsert shifts real distances), then IVF TRAINS on
# the stream-grown merged view and exports the partition-pruned serving
# layout + centroids + probe set. The reference ingests vectors and
# text through the same memtable→segment path and asserts
# search-after-flush on both modalities (storage.go:233-250,
# storage_test.go); this gate proves the full stream → newest-wins
# merge → train → layout → pruned-search pipeline: the oracle takes
# (id, cluster_id) from the exported layout but the VECTORS from the
# source table with the upsert rule re-applied in SQL, so a lost batch,
# an un-hidden crash duplicate, or a stale pre-upsert vector all shift
# the hashed top-k. The builder additionally asserts full-corpus
# equality (ids exactly once, every vector == the upsert-applied
# source), so the gate is not just top-k-deep.
_IVF_STREAM_MOD = 3
_IVF_STREAM_CACHE: dict[tuple[str, str, str], tuple] = {}


def _ivf_stream(spark: SparkSession, sf_dir: str):
    """(IVFIndex over the stream-grown corpus, serving layout) — the
    layout/centroids/probes artifacts reopen across sessions via the
    corpus-signature gate; the index object rebuilds from the persisted
    centroids (parquet double round-trip is exact, so the recomputed
    probe set equals the exported one)."""
    import numpy as np

    from comet_spark.operators.ann import IVFIndex

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVF_STREAM_CACHE:
        _evict_superseded(_IVF_STREAM_CACHE, key)
        base = f"{_art_dir(sf_dir)}/ivf_stream"
        layout = _fresh_stream_artifact(
            spark, sf_dir, base, f"{base}/layout.parquet",
            lambda: _build_ivf_stream_artifact(spark, sf_dir, base),
            table="embeddings",
        )
        cents = sorted(
            spark.read.parquet(f"{base}/centroids.parquet").collect(),
            key=lambda r: r["cluster_id"],
        )
        ivf = IVFIndex(np.array([r["centroid"] for r in cents]))
        _IVF_STREAM_CACHE[key] = (ivf, layout)
    return _IVF_STREAM_CACHE[key]


def _build_ivf_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import shutil

    import numpy as np

    from comet_spark.operators.ann import IVFIndex
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import stream_into_store

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, store_path = f"{base}/src", f"{base}/ckpt", f"{base}/store"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _IVF_STREAM_MOD == m  # noqa: E731
    negated = F.transform("vector", lambda x: -x).alias("vector")

    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    def _drain() -> None:
        q = stream_into_store(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, store_path, id_col="id"),
            checkpoint=ckpt,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("ivf_stream artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        for i in range(2):
            _add(emb.filter(res(i)))
        _drain()
        _lose_latest_commit(ckpt)  # injected crash → batch 1 re-appends
        # batch 2: the remaining residue AND the upsert leg — every
        # residue-0 vector re-sent negated (same ids, new payloads)
        _add(emb.filter(res(2)).unionByName(emb.filter(res(0)).select("id", negated)))
        _drain()
    store = DocumentStore(spark, store_path, id_col="id")
    # non-vacuity 1: the replay landed its duplicate segment
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"ivf_stream artifact: {n_seg} segments for 3 fed batches "
            "(want 4) — the crash-replay duplicate did not land"
        )
    merged = store.read()
    # non-vacuity 2: the merged corpus IS the upsert-applied source —
    # every id exactly once, every vector byte-equal (parquet double
    # round-trip and negation are both exact)
    expect = emb.select(
        "id", F.when(res(0), F.transform("vector", lambda x: -x))
        .otherwise(F.col("vector")).alias("vector"),
    )
    n_src, n_merged = expect.count(), merged.count()
    n_match = merged.join(expect, ["id", "vector"]).count()
    if not (n_src == n_merged == n_match and n_src > 0):
        raise RuntimeError(
            f"ivf_stream artifact: corpus drifted from source "
            f"(src={n_src} merged={n_merged} matched={n_match})"
        )
    # train on the stream-grown corpus; export the pruned serving layout
    ivf = IVFIndex.train(merged, 8)
    ivf.write(ivf.assign(merged), f"{base}/layout.parquet")
    _write_rows(
        spark, f"{base}/centroids.parquet",
        [(int(i), [float(x) for x in c]) for i, c in enumerate(ivf.centroids)],
        "cluster_id bigint, centroid array<double>",
    )
    qvec = _hybrid_qvec(spark, sf_dir)
    _write_rows(
        spark, f"{base}/probes_q2.parquet",
        [(int(c),) for c in ivf.probe_lists(np.asarray(qvec), 2)],
        "cluster_id bigint",
    )


def _ivf_stream_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_stream(spark, sf_dir)
    res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


def _sql_ivf_stream_ctes() -> str:
    """Shared oracle CTEs for the stream-built IVF layout: cluster
    assignments from the exported layout, VECTORS from the source table
    with the upsert rule re-applied, distances over the probed lists
    (both ivf_stream_knn and hybrid_stream_rrf's vector leg — one copy,
    so the two gates' oracles can never desynchronize)."""
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, cluster_id
      FROM read_parquet('{_ART01}/ivf_stream/layout.parquet/**/*.parquet', hive_partitioning=1)),
e AS (SELECT vec_id AS id,
             CASE WHEN vec_id % {_IVF_STREAM_MOD} = 0
                  THEN list_transform(embedding::DOUBLE[], x -> -x)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf_stream/probes_q2.parquet/*.parquet')),
vd AS (SELECT a.id AS vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
       FROM a JOIN p USING (cluster_id) JOIN e USING (id), q)
"""


_register(
    "ivf_stream_knn",
    _ivf_stream_knn,
    f"""
WITH {_sql_ivf_stream_ctes().strip()}
SELECT vec_id, score FROM vd ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ HYBRID OVER STREAM-BUILT STATE (VERDICT r09 #6): RRF fusion where
# the VECTOR leg reads the stream-grown IVF layout (ivf_stream_knn's
# artifact — crash-replayed store, upserts applied, trained post-hoc)
# and the TEXT leg scores the STREAM-BUILT BM25 index
# (bm25_stream_score's artifact — crash-replayed postings with in-stream
# tiered compacts). The two independently-proved streaming stories fused
# under one gate; both artifacts stay signature-gated by their own
# source tables. Oracle = the stream-IVF pruned scan (upsert rule
# re-applied to source vectors) + the whole-corpus BM25 SQL, folded by
# the exact RRF arithmetic.
def _hybrid_stream_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_stream(spark, sf_dir)
    vec_res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    bm = _bm25_stream_index(spark, sf_dir)
    txt_res = bm.score(BM25_QUERY, k=K)
    return rrf(vec_res, txt_res, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_stream_rrf",
    _hybrid_stream_rrf,
    f"""
WITH {_sql_ivf_stream_ctes().strip()},
vres AS (SELECT vec_id AS id, score FROM vd ORDER BY score, vec_id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY).strip().rstrip(',')},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ SEARCH WHILE STREAMING (VERDICT r10 #1 — the last reference
# behavior class with no oracle gate): the reference serves queries
# CONCURRENTLY with ingest — RWMutex readers during writes and the
# per-segment query fan-out (``storage.go:489-629``), with the
# memtable-before-segment read order load-bearing mid-flush. The Spark
# analog: the store's newest-wins merged view over committed segments
# is queried BETWEEN micro-batch drains of a live stream — after the
# injected crash, so the mid-stream reader sees a store whose latest
# batch LANDED its segment but lost its checkpoint commit (the exact
# state a concurrent reader hits mid-flush). The mid-read k-NN answer
# is captured DURING the drive; the oracle recomputes it as plain SQL
# over data-fed-so-far (residues {0,1} of vec_id % 4, with batch 1's
# upsert leg — every residue-0 vector re-sent NEGATED — applied), so a
# reader that misses the just-landed segment, double-counts the crash
# duplicate, or serves the pre-upsert vector all shift the hashed
# top-k. The 'final' phase is served LIVE at query time from the same
# store (brute-force k-NN over the merged view), gating the read path
# itself, not just the artifact replay.
_LIVE_READ_MOD = 4


_STORE_LIVE_READ_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _store_live_read_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.knn import knn
    from comet_spark.storage.store import DocumentStore

    base = f"{_art_dir(sf_dir)}/store_live_read"
    mid = _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/mid.parquet",
        lambda: _build_store_live_read_artifact(spark, sf_dir, base),
        table="embeddings", probe_paths=[f"{base}/store/data"],
    ).select("phase", "vec_id", "score")
    # the 'final' phase serves LIVE from the store's committed merged
    # view — pinned per (session, corpus) like every other serving view
    # (r14), and scored against the literal query vector (the entry-C
    # knn shape: same doubles, no one-row broadcast cross join)
    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _STORE_LIVE_READ_CACHE:
        _evict_superseded(
            _STORE_LIVE_READ_CACHE, key, lambda df: df.unpersist()
        )
        store = DocumentStore(spark, f"{base}/store", id_col="id")
        _STORE_LIVE_READ_CACHE[key] = store.read().cache()
    fin = knn(
        _STORE_LIVE_READ_CACHE[key], None, k=K, metric="l2",
        id_col="id", vec_col="vector",
        literal_query=_hybrid_qvec(spark, sf_dir),
    ).select(
        F.lit("final").alias("phase"), F.col("id").alias("vec_id"), "score"
    )
    return mid.unionByName(fin)


def _build_store_live_read_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders). The load-bearing step is the MID-STREAM read:
    it runs between the two drains, after the injected crash."""
    import shutil

    from comet_spark.operators.knn import knn
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import stream_into_store

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, store_path = f"{base}/src", f"{base}/ckpt", f"{base}/store"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _LIVE_READ_MOD == m  # noqa: E731
    negated = F.transform("vector", lambda x: -x).alias("vector")
    qdf = spark.createDataFrame(
        [(0, _hybrid_qvec(spark, sf_dir))], "qid bigint, qvec array<double>"
    )
    _add, _drain = _feed_drain(
        spark, src,
        lambda: stream_into_store(
            _emb_vec_stream(spark, src),
            DocumentStore(spark, store_path, id_col="id"),
            checkpoint=ckpt,
        ),
        "store_live_read",
    )

    with _scoped_shuffle_partitions(spark):
        _add(emb.filter(res(0)))
        # batch 1: residue-1 inserts AND the upsert leg (every residue-0
        # vector re-sent negated) in ONE batch — the mid-read must apply
        # newest-wins across the two live segments
        _add(emb.filter(res(1)).unionByName(emb.filter(res(0)).select("id", negated)))
        _drain()
        _lose_latest_commit(ckpt)  # injected crash → batch 1 will replay
        # ---- THE MID-STREAM READ: data-fed-so-far, crash un-committed
        store = DocumentStore(spark, store_path, id_col="id")
        n_seg = store._segments().select("segment").distinct().count()
        if n_seg != 2:
            raise RuntimeError(
                f"store_live_read artifact: mid-read saw {n_seg} segments "
                "(want 2) — the read is not mid-stream"
            )
        merged = store.read()
        fed = emb.filter(res(0) | res(1)).select(
            "id", F.when(res(0), F.transform("vector", lambda x: -x))
            .otherwise(F.col("vector")).alias("vector"),
        )
        n_fed, n_mid = fed.count(), merged.count()
        n_match = merged.join(fed, ["id", "vector"]).count()
        # non-vacuity: the mid-read saw EXACTLY data-fed-so-far — every
        # fed id once (upsert applied, its duplicate id hidden), every
        # unfed residue absent
        if not (0 < n_fed == n_mid == n_match):
            raise RuntimeError(
                f"store_live_read artifact: mid-read corpus drifted "
                f"(fed={n_fed} mid={n_mid} matched={n_match})"
            )
        mid = knn(
            merged, qdf, k=K, metric="l2", id_col="id", vec_col="vector"
        ).select(
            F.lit("mid").alias("phase"), F.col("id").alias("vec_id"), "score"
        )
        mid.repartition(1).write.mode("overwrite").parquet(f"{base}/mid.parquet")
        # ---- resume the stream: remaining residues, crash replays first
        for i in (2, 3):
            _add(emb.filter(res(i)))
        _drain()
    store = DocumentStore(spark, store_path, id_col="id")
    # the replay landed its duplicate segment: 4 fed batches → 5 segments
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"store_live_read artifact: {n_seg} segments for 4 fed "
            "batches (want 5) — the crash-replay duplicate did not land"
        )
    # final corpus == upsert-applied source, every id exactly once
    expect = emb.select(
        "id", F.when(res(0), F.transform("vector", lambda x: -x))
        .otherwise(F.col("vector")).alias("vector"),
    )
    merged = store.read()
    n_src, n_merged = expect.count(), merged.count()
    n_match = merged.join(expect, ["id", "vector"]).count()
    if not (0 < n_src == n_merged == n_match):
        raise RuntimeError(
            f"store_live_read artifact: final corpus drifted from source "
            f"(src={n_src} merged={n_merged} matched={n_match})"
        )


_register(
    "store_live_read_knn",
    _store_live_read_knn,
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id,
             CASE WHEN vec_id % {_LIVE_READ_MOD} = 0
                  THEN list_transform(embedding::DOUBLE[], x -> -x)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings),
mid AS (SELECT 'mid' AS phase, vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
        FROM e, q WHERE vec_id % {_LIVE_READ_MOD} <= 1
        ORDER BY score, vec_id LIMIT {K}),
fin AS (SELECT 'final' AS phase, vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
        FROM e, q
        ORDER BY score, vec_id LIMIT {K})
SELECT * FROM mid UNION ALL SELECT * FROM fin
""",
)


# ★ METADATA THROUGH THE STREAM (VERDICT r10 #6 — the last
# modality × CRUD cell): metadata columns (lang, n_chars) ride
# ``stream_into_store(op_col=...)`` upserts alongside the payload, and
# a FilterGroups query (§2.B DSL) runs against the CRUD-final merged
# view. The reference stores metadata on the same write path as
# vectors/text (``storage.go`` Add carries the full document; the
# metadata index sees every mutation) — here batch 2's upsert leg
# REWRITES two metadata fields (lang → 'zz', a value absent from the
# source corpus; n_chars + 10000) so filter membership exists ONLY via
# newest-wins over the upsert segment, batch 1's delete markers remove
# residue-0 docs (their metadata must not match anything), and the
# injected crash replays the delete-carrying batch. Oracle = the
# FilterGroups predicate in SQL over the CASE-transformed corpus.
_META_CRUD_MOD = 4
_META_CRUD_NC_BUMP = 10_000


def _meta_crud_pred():
    return Where(
        Eq(Field("lang"), "zz"),
        Gt(NumField("n_chars", quantize=False), _META_CRUD_NC_BUMP + 250),
    ).Or(
        Eq(Field("lang"), "en"),
        Between(NumField("n_chars", quantize=False), 100, 300),
    )


def _meta_crud_stream_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.storage.store import DocumentStore

    base = f"{_art_dir(sf_dir)}/meta_crud_stream"
    _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_meta_crud_stream_artifact(spark, sf_dir, base),
        probe_paths=[f"{base}/store/data", f"{base}/store/_deletes"],
    )
    store = DocumentStore(spark, f"{base}/store", id_col="doc_id")
    # the filter is served LIVE over the merged view — the read path,
    # not an artifact replay, is what the oracle hashes
    return store.read().filter(_meta_crud_pred().expr()).select(
        "doc_id", "lang", "n_chars"
    )


def _build_meta_crud_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders; the store is the serving component, ``out`` is the
    freshness probe's snapshot)."""
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import stream_into_store

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, store_path = f"{base}/src", f"{base}/ckpt", f"{base}/store"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    if docs.filter(F.col("lang") == "zz").count():
        raise RuntimeError(
            "meta_crud_stream artifact: source corpus already has "
            "lang='zz' — the upsert leg would be indistinguishable"
        )
    res = lambda m: F.col("doc_id") % _META_CRUD_MOD == m  # noqa: E731

    def _ins(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", "text", "lang", "n_chars",
            F.lit(None).cast("string").alias("op"),
        )

    def _add(df: DataFrame) -> None:
        df.repartition(1).write.mode("append").parquet(src)

    def _drain() -> None:
        q = stream_into_store(
            spark.readStream.schema(
                "doc_id bigint, text string, lang string, "
                "n_chars bigint, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, store_path, id_col="doc_id"),
            checkpoint=ckpt, op_col="op",
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("meta_crud_stream artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        _add(_ins(docs.filter(res(0) | res(1))))
        # batch 1: DELETE markers for residue-0 + residue-2 inserts —
        # the injected crash replays THIS batch (delete re-issued at a
        # fresh watermark over the replay's duplicate segment)
        _add(
            docs.filter(res(0)).select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("bigint").alias("n_chars"),
                F.lit("delete").alias("op"),
            ).unionByName(_ins(docs.filter(res(2))))
        )
        _drain()
        _lose_latest_commit(ckpt)  # → the delete-carrying batch replays
        # batch 2: residue-3 inserts + the METADATA upsert leg (same
        # ids, text unchanged, lang/n_chars rewritten)
        _add(
            _ins(docs.filter(res(3))).unionByName(
                _ins(
                    docs.filter(F.col("doc_id") % 8 == 1).select(
                        "doc_id", "text", F.lit("zz").alias("lang"),
                        (F.col("n_chars") + _META_CRUD_NC_BUMP).alias("n_chars"),
                    )
                )
            )
        )
        _drain()
    store = DocumentStore(spark, store_path, id_col="doc_id")
    # non-vacuity 1: the replay landed its duplicate segment
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"meta_crud_stream artifact: {n_seg} segments for 3 fed "
            "batches (want 4) — the crash-replay duplicate did not land"
        )
    # non-vacuity 2: the replayed batch re-issued its delete
    n_res0 = docs.filter(res(0)).count()
    n_del_rows = spark.read.parquet(store.deletes_path).count()
    if n_res0 == 0 or n_del_rows != 2 * n_res0:
        raise RuntimeError(
            f"meta_crud_stream artifact: {n_del_rows} delete rows for "
            f"{n_res0} marked ids (want 2x) — the delete replay did not "
            "engage"
        )
    # non-vacuity 3: the merged view IS the CRUD-final corpus — every
    # surviving id exactly once with the upsert-applied metadata
    expect = docs.filter(~res(0)).select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 1, F.lit("zz"))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(
            F.col("doc_id") % 8 == 1, F.col("n_chars") + _META_CRUD_NC_BUMP
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    merged = store.read().select("doc_id", "lang", "n_chars")
    n_exp, n_merged = expect.count(), merged.count()
    n_match = merged.join(expect, ["doc_id", "lang", "n_chars"]).count()
    if not (0 < n_exp == n_merged == n_match):
        raise RuntimeError(
            f"meta_crud_stream artifact: merged metadata drifted "
            f"(expect={n_exp} merged={n_merged} matched={n_match})"
        )
    # non-vacuity 4: the filter's 'zz' arm is non-empty — membership
    # that exists ONLY because the upsert rewrote the metadata
    hit = store.read().filter(_meta_crud_pred().expr())
    if hit.filter(F.col("lang") == "zz").count() == 0:
        raise RuntimeError(
            "meta_crud_stream artifact: no upserted row matches the "
            "filter — the metadata-upsert arm would be vacuous"
        )
    merged.repartition(1).write.mode("overwrite").parquet(f"{base}/out")


_register(
    "meta_crud_stream_filter",
    _meta_crud_stream_filter,
    f"""
WITH dm AS (SELECT doc_id,
                   CASE WHEN doc_id % 8 = 1 THEN 'zz' ELSE lang END AS lang,
                   CASE WHEN doc_id % 8 = 1 THEN n_chars + {_META_CRUD_NC_BUMP}
                        ELSE n_chars END AS n_chars
            FROM documents WHERE doc_id % {_META_CRUD_MOD} <> 0)
SELECT doc_id, lang, n_chars FROM dm
WHERE (lang = 'zz' AND n_chars > {_META_CRUD_NC_BUMP + 250})
   OR (lang = 'en' AND n_chars BETWEEN 100 AND 300)
""",
)


# ★ STREAM-WIRED ANN MAINTENANCE (VERDICT r10 #3): ``ivf_stream_knn``
# trains AFTER the drain; this gate drives the maintenance INSIDE
# ``foreachBatch`` (``ivf_ingest_stream``) — the index stays serveable
# as segments flush, the reference's always-searchable persistent index
# (``storage.go:233-250``; ``ivf_index.go:206-235`` Train-on-drift).
# Batch 0 boots the first version, batches append _SUCCESS-committed
# tail partitions, batch 2 REFRESHES (retrain on data-fed-so-far →
# versioned full layout → atomic version-marker commit) — and the
# injected crash lands exactly BETWEEN that commit and the checkpoint
# commit, so the restart re-delivers the refresh batch: the marker is
# its done-record, so the replay must SKIP — a committed version dir
# is immutable once a reader can be pointed at it (an in-place rewrite
# 'converging to the same bytes' still passes through an empty dir
# under a concurrent reader). The builder asserts the version commit
# preceded the crash, the layout file set is BYTE-IDENTICAL across the
# replay, the skip journal proves the batch was re-delivered, the
# centroids are unchanged, no duplicate segment landed (the marker
# proves the append committed), and the final serving view (full_v2 +
# tail batch=3) holds every fed id exactly once; a MID-READ between
# the drains queries the committed view (search-while-streaming on the
# maintained index). Oracle = the pruned scan over the two exported
# serving components with vectors from the source.
_IVF_LIVE_MOD = 4
_IVF_LIVE_REFRESH_AT = 2
_IVF_LIVE_CACHE: dict[tuple[str, str, str], tuple] = {}


def _ivf_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import ivf_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVF_LIVE_CACHE:
        _evict_superseded(_IVF_LIVE_CACHE, key)
        base = f"{_art_dir(sf_dir)}/ivf_live"
        full = f"{base}/index/full_v{_IVF_LIVE_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/layout.parquet",
            lambda: _build_ivf_live_artifact(spark, sf_dir, base),
            table="embeddings",
            # EVERY component the serving path and the oracle read
            # (review r11): a partial cleanup of any one must route
            # into the rebuild, not per-query failures
            probe_paths=[
                f"{full}/centroids.parquet", f"{full}/meta.parquet",
                f"{base}/index/tail/batch={_IVF_LIVE_MOD - 1}",
                f"{base}/probes_q2.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_IVF_LIVE_REFRESH_AT}",
                # the serving view requires the tail's _SUCCESS (a
                # parquet probe passes without it — review r11 pass 2):
                # losing just that file must rebuild, not serve shrunken
                f"{base}/index/tail/batch={_IVF_LIVE_MOD - 1}/_SUCCESS",
            ],
        )
        _IVF_LIVE_CACHE[key] = ivf_serving_view(spark, f"{base}/index")
    return _IVF_LIVE_CACHE[key]


def _build_ivf_live_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _IVF_LIVE_MOD == m  # noqa: E731
    _add, _drain = _feed_drain(
        spark, src,
        lambda: ivf_ingest_stream(
            _emb_vec_stream(spark, src),
            DocumentStore(spark, store_path, id_col="id"),
            index_base, checkpoint=ckpt, nlist=8,
            refresh_every=_IVF_LIVE_REFRESH_AT,
        ),
        "ivf_live",
    )

    def _serving_ids(layout: DataFrame) -> DataFrame:
        return layout.select("id")

    with _scoped_shuffle_partitions(spark):
        for i in range(3):
            _add(emb.filter(res(i)))
        _drain()  # batch 0 boots v0, batch 1 tails, batch 2 REFRESHES → v2
        full2 = f"{index_base}/full_v{_IVF_LIVE_REFRESH_AT}"
        from comet_spark.storage.store import _FS
        from comet_spark.streaming.ingest import _ivf_current

        cur = _ivf_current(_FS(spark, index_base), index_base)
        if cur != _IVF_LIVE_REFRESH_AT:
            raise RuntimeError(
                f"ivf_live artifact: CURRENT={cur} after first drain "
                f"(want {_IVF_LIVE_REFRESH_AT}) — the layout swap did not "
                "precede the crash"
            )
        before_files = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
        ivf_mid, layout_mid = ivf_serving_view(spark, index_base)
        cents_mid = np.array(ivf_mid.centroids)
        # mid-read non-vacuity: the pointer-committed view holds exactly
        # the fed residues {0,1,2}, each id once
        fed = emb.filter(res(0) | res(1) | res(2)).select("id")
        n_fed, n_mid = fed.count(), _serving_ids(layout_mid).count()
        n_match = _serving_ids(layout_mid).join(fed, "id").count()
        if not (0 < n_fed == n_mid == n_match):
            raise RuntimeError(
                f"ivf_live artifact: mid serving view drifted "
                f"(fed={n_fed} mid={n_mid} matched={n_match})"
            )
        _lose_latest_commit(ckpt)  # crash BETWEEN swap and commit
        _add(emb.filter(res(3)))
        _drain()  # batch 2 replays → SKIPS (marker = done), batch 3 tails
    # the replayed refresh must have SKIPPED, not rewritten: a committed
    # version dir is immutable from the moment a reader can be pointed
    # at it (an in-place rewrite — even one converging to the same
    # bytes — passes through an empty directory under a concurrent
    # reader). Byte-identical file set = the reader-safety property.
    after_files = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
    if not before_files or before_files != after_files:
        raise RuntimeError(
            "ivf_live artifact: full_v2 layout changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    # ... and the replay ENGAGED: the skip journal records that batch 2
    # was re-delivered and recognized as committed
    if not os.path.exists(f"{index_base}/_skips/{_IVF_LIVE_REFRESH_AT}"):
        raise RuntimeError(
            "ivf_live artifact: no skip journal for the refresh batch — "
            "the injected crash did not engage the replay"
        )
    ivf, layout = ivf_serving_view(spark, index_base)
    if not np.array_equal(np.array(ivf.centroids), cents_mid):
        raise RuntimeError(
            "ivf_live artifact: centroids changed across the crash-"
            "replay — the skipped refresh was not a true no-op"
        )
    # final serving view = every fed id exactly once (tail batch=3
    # joined the view)
    n_src, n_srv = emb.count(), _serving_ids(layout).count()
    n_match = _serving_ids(layout).join(emb.select("id"), "id").count()
    if not (0 < n_src == n_srv == n_match):
        raise RuntimeError(
            f"ivf_live artifact: final serving view drifted "
            f"(src={n_src} serving={n_srv} matched={n_match})"
        )
    # 4 segments for 4 fed batches: the skip rule means the replayed
    # refresh does NOT re-append (its marker proves the append landed)
    n_seg = DocumentStore(spark, store_path, id_col="id")._segments().select(
        "segment"
    ).distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"ivf_live artifact: {n_seg} segments for 4 fed batches "
            "(want 4) — the committed-refresh skip did not hold"
        )
    qvec = _hybrid_qvec(spark, sf_dir)
    _write_rows(
        spark, f"{base}/probes_q2.parquet",
        [(int(c),) for c in ivf.probe_lists(np.asarray(qvec), 2)],
        "cluster_id bigint",
    )


def _ivf_live_refresh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_live(spark, sf_dir)
    res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


def _sql_ivf_live_ctes() -> str:
    """Shared oracle CTEs for the stream-MAINTAINED serving view:
    cluster assignments from BOTH exported components (the committed
    full version ∪ the newer tail), vectors from the source (this feed
    is append-only fresh ids), distances over the probed lists — one
    copy for ivf_live_refresh_knn and hybrid_live_rrf's vector leg, so
    the two gates' oracles can never desynchronize (the
    _sql_ivf_stream_ctes pattern)."""
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
a AS (SELECT id, cluster_id
      FROM read_parquet('{_ART01}/ivf_live/index/full_v{_IVF_LIVE_REFRESH_AT}/layout.parquet/**/*.parquet', hive_partitioning=1)
      UNION ALL
      SELECT id, cluster_id
      FROM read_parquet('{_ART01}/ivf_live/index/tail/batch={_IVF_LIVE_MOD - 1}/**/*.parquet', hive_partitioning=1)),
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf_live/probes_q2.parquet/*.parquet')),
vd AS (SELECT a.id AS vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
       FROM a JOIN p USING (cluster_id) JOIN e USING (id), q)
"""


_register(
    "ivf_live_refresh_knn",
    _ivf_live_refresh_knn,
    f"""
WITH {_sql_ivf_live_ctes().strip()}
SELECT vec_id, score FROM vd ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ HYBRID OVER LIVE-MAINTAINED STATE (r11 — the hybrid ×
# maintenance-under-ingest cell, the live twin of hybrid_stream_rrf):
# RRF fusion where the VECTOR leg searches the stream-MAINTAINED IVF
# serving view (ivf_live's artifact — versioned refresh inside
# foreachBatch, marker commits, skip-replayed crash) and the TEXT leg
# scores the stream-built index bm25_live_read_score reads (crash-
# replayed postings, in-stream compacts, mid-drain read proven). The
# reference serves hybrid_search_index continuously under Add — this
# is that serving shape over state whose EVERY maintenance step
# already sits under its own oracle gate. Oracle = the live-IVF pruned
# scan + the whole-corpus BM25 SQL folded by the exact RRF arithmetic.
def _hybrid_live_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_live(spark, sf_dir)
    vec_res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    bm = _bm25_live_index(spark, sf_dir)
    txt_res = bm.score(BM25_QUERY, k=K)
    return rrf(vec_res, txt_res, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_live_rrf",
    _hybrid_live_rrf,
    f"""
WITH {_sql_ivf_live_ctes().strip()},
vres AS (SELECT vec_id AS id, score FROM vd ORDER BY score, vec_id LIMIT {K}),
{_sql_bm25_ctes().strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY).strip().rstrip(',')},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ STREAM-WIRED GRAPH MAINTENANCE (r11 — the HNSW twin of
# ivf_live_refresh_knn; reference mutable-graph Add,
# hnsw_index.go:493-552, where new docs are searchable the moment Add
# returns): ``hnsw_ingest_stream`` builds DistributedHNSW sub-graphs
# over ONLY each micro-batch inside foreachBatch (cost ∝ batch) and
# commits them as a _SUCCESS-gated per-batch graph partition — no
# refresh step exists because graph growth is append-only and search
# unions every sub-graph's beam. The injected crash replays the
# graph-carrying batch: the rebuild is deterministic (seeded, hash-
# partitioned, id-insertion order), the dir overwrite is idempotent,
# and a MID-READ between the drains proves the 2-batch graph serves
# exactly data-fed-so-far. Oracle = exported candidate set (the
# deterministic ef-beam union) replayed as an exact L2 scan in SQL —
# the hnsw_dist_topk scheme over stream-grown state.
_HNSW_LIVE_MOD = 4
_HNSW_LIVE_CACHE: dict[tuple[str, str, str], object] = {}


def _hnsw_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import hnsw_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _HNSW_LIVE_CACHE:
        _evict_superseded(_HNSW_LIVE_CACHE, key, _unpersist_graphs)
        base = f"{_art_dir(sf_dir)}/hnsw_live"
        parts = f"{base}/graphs/parts"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{base}/graphs/meta.parquet",
            lambda: _build_hnsw_live_artifact(spark, sf_dir, base),
            table="embeddings",
            probe_paths=[
                f"{parts}/batch={i}" for i in range(_HNSW_LIVE_MOD)
            ],
            probe_files=[
                f"{parts}/batch={i}/_SUCCESS" for i in range(_HNSW_LIVE_MOD)
            ],
        )
        ix = hnsw_serving_view(spark, f"{base}/graphs")
        ix.graphs = ix.graphs.cache()
        _HNSW_LIVE_CACHE[key] = ix
    return _HNSW_LIVE_CACHE[key]


def _build_hnsw_live_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, graph_base = f"{base}/store", f"{base}/graphs"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _HNSW_LIVE_MOD == m  # noqa: E731
    _add, _drain = _feed_drain(
        spark, src,
        lambda: hnsw_ingest_stream(
            _emb_vec_stream(spark, src),
            DocumentStore(spark, store_path, id_col="id"),
            graph_base, checkpoint=ckpt, m=8, parts_per_batch=4,
        ),
        "hnsw_live",
    )

    qvec = _hybrid_qvec(spark, sf_dir)
    with _scoped_shuffle_partitions(spark):
        for i in range(2):
            _add(emb.filter(res(i)))
        _drain()
        before = set(glob.glob(f"{graph_base}/parts/batch=1/*.parquet"))
        _lose_latest_commit(ckpt)  # injected crash → batch 1 replays
        # MID-READ: the 2-batch graph must serve exactly data-fed-so-far
        mid_ix = hnsw_serving_view(spark, graph_base)
        fed = emb.filter(res(0) | res(1)).select("id")
        mid_cand = mid_ix.candidates(qvec, ef_search=100).distinct()
        n_cand = mid_cand.count()
        n_outside = mid_cand.join(fed, "id", "left_anti").count()
        if not (n_cand > 0 and n_outside == 0):
            raise RuntimeError(
                f"hnsw_live artifact: mid-read beam returned {n_cand} "
                f"candidates with {n_outside} outside data-fed-so-far"
            )
        for i in (2, 3):
            _add(emb.filter(res(i)))
        _drain()  # batch 1 replays (dir overwrite), then 2, 3
    after = set(glob.glob(f"{graph_base}/parts/batch=1/*.parquet"))
    if not before or before == after:
        raise RuntimeError(
            "hnsw_live artifact: batch=1 graph dir was not rewritten — "
            "the injected crash did not engage the replay"
        )
    # every batch committed its sub-graphs; the store holds the crash
    # duplicate (5 segments for 4 fed batches)
    for i in range(_HNSW_LIVE_MOD):
        if not os.path.exists(f"{graph_base}/parts/batch={i}/_SUCCESS"):
            raise RuntimeError(
                f"hnsw_live artifact: graph batch={i} is not committed"
            )
    n_seg = DocumentStore(spark, store_path, id_col="id")._segments().select(
        "segment"
    ).distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"hnsw_live artifact: {n_seg} segments for 4 fed batches "
            "(want 5) — the crash-replay duplicate did not land"
        )
    # the final beam reaches every batch's sub-graphs (each residue
    # class contributes candidates) and stays inside the corpus
    ix = hnsw_serving_view(spark, graph_base)
    cand = ix.candidates(qvec, ef_search=100).distinct()
    reach = cand.select(
        (F.col("id") % _HNSW_LIVE_MOD).alias("r")
    ).distinct().count()
    n_outside = cand.join(emb.select("id"), "id", "left_anti").count()
    if not (reach == _HNSW_LIVE_MOD and n_outside == 0):
        raise RuntimeError(
            f"hnsw_live artifact: beam reaches {reach}/{_HNSW_LIVE_MOD} "
            f"batches with {n_outside} ids outside the corpus"
        )


def _hnsw_export_topk(
    spark: SparkSession, sf_dir: str, ix, art_name: str,
    *, vectors: DataFrame | None = None, ef_search: int = 100,
) -> DataFrame:
    """Export-candidates-then-exact-score, shared by the stream-grown
    graph gates (hnsw_live_topk / hnsw_live_compact_topk /
    hnsw_crud_live_topk — review r12 pass 5 and r13 pass 1: the block
    lived twice, then was re-inlined a third time; a probe-protocol
    fix must land once): the ef=100 beam is deterministic for a fixed
    graph, so the exported candidate set is the oracle's replay
    surface. ``vectors`` swaps the exact-scoring authority — the
    source embeddings by default, the CRUD'd store's newest-wins
    merged view for the CRUD gate (deleted ids then drop out of the
    semi-join, upserted ids score with their newest vector). The probe
    key carries the corpus fingerprint — a mid-session regen rmtree's
    the artifact (candidates.parquet included), and a sig-less key
    would skip the rewrite and read the deleted path."""
    from comet_spark.operators.hnsw import score_candidates

    qvec = _hybrid_qvec(spark, sf_dir)
    art = f"{_art_dir(sf_dir)}/{art_name}"
    key2 = _live_cache_key(spark, sf_dir, "embeddings") + (
        f"{art_name}_cands",
    )
    if key2 not in _PROBE_WRITTEN:
        ix.candidates(qvec, ef_search=ef_search).distinct().repartition(
            1
        ).write.mode("overwrite").parquet(f"{art}/candidates.parquet")
        _PROBE_WRITTEN.add(key2)
    cand = spark.read.parquet(f"{art}/candidates.parquet")
    if vectors is None:
        vectors = _t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vector"),
        )
    res = score_candidates(vectors, cand, qvec, metric="l2", k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


def _hnsw_live_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scoring + top-k over the stream-grown graph's ef=100 beam
    (same scheme as hnsw_dist_topk / hnsw_addbatch_topk)."""
    return _hnsw_export_topk(spark, sf_dir, _hnsw_live(spark, sf_dir), "hnsw_live")


_register(
    "hnsw_live_topk",
    _hnsw_live_topk,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/hnsw_live/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN c ON c.id = e.vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ CRUD THROUGH THE LIVE-MAINTAINED ANN STREAM (r12 — the last
# composition cell: CRUD ∘ maintenance ∘ live read; reference
# ``ivf_index.go:307-400``, where Remove and re-Add mutate a SERVING
# persistent index on the shared write path while searches run). The
# SAME ``ivf_ingest_stream`` that maintains the versioned serving
# layout carries the mutations (``op_col``), and every CRUD × refresh
# cell lands in one feed:
#
# - batch 1 rides an UPSERT leg (residue-0 ids divisible by 3 re-sent
#   NEGATED — their tail assignment shadows the boot layout v0);
# - batch 2 carries DELETE WAVE 1 (ids ≡ 7 mod 10) and is the
#   scheduled REFRESH: the retrain reads the store AFTER the deletes
#   apply, so full_v2 bakes the upserts in and the wave-1 ids out
#   (markers ≤ the committed version are dead at read — asserted);
# - batch 3 (the MARKER batch, which the injected crash replays) does
#   all three live mutations at once: residue-3 inserts, a SECOND
#   upsert wave (ids ≡ 1 mod 9 in full_v2, re-sent at 5× — these
#   shadow the committed layout in the SERVED final state, so the
#   query's own read path exercises newest-wins), the RESURRECTION of
#   the smallest wave-1 id (3× its original vector — a later re-append
#   beats an older baked delete), and DELETE WAVE 2: the exact
#   undeleted top-3 of the query over the would-be final corpus — in
#   the undeleted top-k BY CONSTRUCTION, so the read-path anti-join
#   can never pass vacuously.
#
# The mid-drain read happens in the post-crash pre-replay state
# (landed segment + tail + marker partition, lost checkpoint commit —
# the reference's memtable-visible-to-Search state) and must serve the
# transformed corpus minus both waves plus the resurrect EXACTLY; the
# replay drain must converge to the same corpus while REWRITING the
# tail and marker dirs (idempotence, asserted file-level) and leaving
# full_v2 byte-identical. Oracle = newest-wins (QUALIFY max-precedence
# per id) over the exported components (full_v2 ∪ tail 3), anti-joined
# with the exported live markers, vectors from the CASE-transformed
# source.
_IVF_CRUD_REFRESH_AT = 2
_IVF_CRUD_CACHE: dict[tuple[str, str, str], tuple] = {}
# the transform legs, as SQL so the oracle re-derives them from source
_IVF_CRUD_UPS_SQL = "vec_id % 4 = 0 AND vec_id % 3 = 0"  # negated @ b1
_IVF_CRUD_D1_SQL = "vec_id % 10 = 7 AND vec_id % 4 < 3"  # baked delete
_IVF_CRUD_W_SQL = (  # 5× upsert wave @ b3 (full_v2 survivors only)
    "vec_id % 9 = 1 AND vec_id % 4 < 3 AND vec_id % 10 <> 7"
)
# the resurrected id: MIN of delete wave 1 — static given the corpus
_IVF_CRUD_RS_SQL = (
    f"(SELECT MIN(vec_id) FROM embeddings WHERE {_IVF_CRUD_D1_SQL})"
)


def _ivf_crud_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import ivf_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVF_CRUD_CACHE:
        _evict_superseded(_IVF_CRUD_CACHE, key)
        base = f"{_art_dir(sf_dir)}/ivf_crud"
        full = f"{base}/index/full_v{_IVF_CRUD_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/layout.parquet",
            lambda: _build_ivf_crud_artifact(spark, sf_dir, base),
            table="embeddings",
            # EVERY component the serving path and the oracle read
            probe_paths=[
                f"{full}/centroids.parquet", f"{full}/meta.parquet",
                f"{base}/index/tail/batch=3",
                f"{base}/index/_deletes/batch=3",
                f"{base}/probes_q2.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_IVF_CRUD_REFRESH_AT}",
                # the CRUD plan is opt-in by this marker: losing just it
                # would silently serve with deletes un-applied
                f"{base}/index/_crud",
                f"{base}/index/tail/batch=3/_SUCCESS",
                f"{base}/index/_deletes/batch=3/_SUCCESS",
            ],
        )
        _IVF_CRUD_CACHE[key] = ivf_serving_view(spark, f"{base}/index")
    return _IVF_CRUD_CACHE[key]


def _crud_wave_algebra(corpus: DataFrame, who: str):
    """The shared CRUD-wave algebra of the five CRUD gate builders
    (ivf_crud / pq_crud / ivfpq_crud / hnsw_crud / doc_stream — review
    r13 pass 1: the predicate/literal/r1 block lived five times and
    had to stay byte-synchronized with the _IVF_CRUD_*_SQL constants):
    the mod-4 residue factory, the three wave predicates (mutually
    exclusive by arithmetic — see :func:`_ivf_crud_txf`), the
    vector-transform and op literals, and the r1 probe (MIN id of
    delete wave 1; raises loudly here — once — when the wave is
    empty). Mod 4 is a fixed invariant: the SQL predicate constants
    hardcode it, so it is not a knob."""
    res = lambda m: F.col("id") % 4 == m  # noqa: E731
    preds = {
        "ups": res(0) & (F.col("id") % 3 == 0),  # _IVF_CRUD_UPS_SQL
        "d1": (F.col("id") % 10 == 7) & (F.col("id") % 4 < 3),
        "w": (
            (F.col("id") % 9 == 1)
            & (F.col("id") % 4 < 3)
            & (F.col("id") % 10 != 7)
        ),
    }
    lits = {
        "negated": F.transform("vector", lambda x: -x).alias("vector"),
        "times5": F.transform("vector", lambda x: x * F.lit(5.0)).alias("vector"),
        "times3": F.transform("vector", lambda x: x * F.lit(3.0)).alias("vector"),
        "op_null": F.lit(None).cast("string").alias("op"),
        "mark": F.lit("delete").alias("op"),
        "novec": F.lit(None).cast("array<double>").alias("vector"),
    }
    r1 = corpus.filter(preds["d1"]).agg(F.min("id")).first()[0]
    if r1 is None:
        raise RuntimeError(f"{who} artifact: delete wave 1 is empty")
    return res, preds, lits, int(r1)


def _ivf_crud_txf(emb: DataFrame, r1: int) -> DataFrame:
    """The CASE-transformed corpus (upserts + resurrect applied, deletes
    NOT) — the vector source both the builder's asserts and the oracle
    agree on. Branch order mirrors the SQL exactly; the three legs are
    mutually exclusive by arithmetic (W excludes %10==7 and %9==1
    excludes %3==0), so order is belt-and-braces."""
    ups = (F.col("id") % 4 == 0) & (F.col("id") % 3 == 0)
    w = (
        (F.col("id") % 9 == 1)
        & (F.col("id") % 4 < 3)
        & (F.col("id") % 10 != 7)
    )
    return emb.select(
        "id",
        F.when(F.col("id") == r1, F.transform("vector", lambda x: x * F.lit(3.0)))
        .when(w, F.transform("vector", lambda x: x * F.lit(5.0)))
        .when(ups, F.transform("vector", lambda x: -x))
        .otherwise(F.col("vector"))
        .alias("vector"),
    )


def _build_ivf_crud_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.functions.vector import distance
    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        ivf_ingest_stream,
        ivf_serving_view,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res, P, L, r1 = _crud_wave_algebra(emb, "ivf_crud")
    ups_pred, d1_pred, w_pred = P["ups"], P["d1"], P["w"]
    negated, times5, times3 = L["negated"], L["times5"], L["times3"]
    op_null, mark, novec = L["op_null"], L["mark"], L["novec"]
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: ivf_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=8,
            refresh_every=_IVF_CRUD_REFRESH_AT, op_col="op",
        ),
        "ivf_crud",
    )
    txf = _ivf_crud_txf(emb, r1)
    # undeleted-final corpus: wave 1 baked out (except the resurrect);
    # D2 (the LIVE wave) is the query's exact top-3 of it, minus r1
    undeleted = txf.filter(~d1_pred | (F.col("id") == r1))
    qvec = _hybrid_qvec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    D2 = [
        int(r["id"])
        for r in undeleted.filter(F.col("id") != r1)
        .select("id", distance("l2", F.col("vector"), qlit).alias("d"))
        .orderBy("d", "id").limit(3).collect()
    ]
    final_exp = undeleted.filter(~F.col("id").isin(D2))

    with _scoped_shuffle_partitions(spark):
        _add(emb.filter(res(0)).select("id", "vector", op_null))
        _add(  # batch 1: residue-1 inserts + the NEGATED upsert leg
            emb.filter(res(1)).select("id", "vector", op_null).unionByName(
                emb.filter(ups_pred).select("id", negated, op_null)
            )
        )
        _add(  # batch 2 (the REFRESH): residue-2 inserts + delete wave 1
            emb.filter(res(2)).select("id", "vector", op_null).unionByName(
                emb.filter(d1_pred).select("id", novec, mark)
            )
        )
        _add(  # batch 3 (the MARKER batch): inserts + 5× wave +
            # resurrect + LIVE delete wave 2, one micro-batch
            emb.filter(res(3)).select("id", "vector", op_null)
            .unionByName(emb.filter(w_pred).select("id", times5, op_null))
            .unionByName(
                emb.filter(F.col("id") == r1).select("id", times3, op_null)
            )
            .unionByName(
                spark.createDataFrame(
                    [(i, None, "delete") for i in D2],
                    "id bigint, vector array<double>, op string",
                )
            )
        )
        _drain()  # b0 boots v0, b1 tails, b2 refreshes → v2, b3 tails
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _IVF_CRUD_REFRESH_AT:
            raise RuntimeError(
                f"ivf_crud artifact: CURRENT={cur} after the drain "
                f"(want {_IVF_CRUD_REFRESH_AT})"
            )
        # the refresh BAKED the CRUD state: wave-1 ids out of full_v2,
        # the negated upserts in (vector-exact)
        full2 = f"{index_base}/full_v{_IVF_CRUD_REFRESH_AT}"
        baked = spark.read.parquet(f"{full2}/layout.parquet")
        n_d1 = baked.join(emb.filter(d1_pred).select("id"), "id").count()
        n_ups = emb.filter(ups_pred).count()
        n_ups_baked = baked.join(
            emb.filter(ups_pred).select("id", negated), ["id", "vector"]
        ).count()
        if not (n_d1 == 0 and 0 < n_ups == n_ups_baked):
            raise RuntimeError(
                f"ivf_crud artifact: refresh did not bake the CRUD state "
                f"(wave-1 leftovers={n_d1}, upserts {n_ups_baked}/{n_ups})"
            )
        _lose_latest_commit(ckpt)  # crash → the MARKER batch will replay
        before_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
        before_tail = set(
            glob.glob(f"{index_base}/tail/batch=3/*/*.parquet")
        )
        before_full = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
        # MID-READ (post-crash pre-replay — landed tail + markers, lost
        # checkpoint commit): the served corpus must equal final_exp
        _, layout_mid = ivf_serving_view(spark, index_base)
        n_exp, n_mid = final_exp.count(), layout_mid.count()
        n_match = layout_mid.select("id", "vector").join(
            final_exp, ["id", "vector"]
        ).count()
        if not (0 < n_exp == n_mid == n_match):
            raise RuntimeError(
                f"ivf_crud artifact: mid serving view drifted "
                f"(expect={n_exp} mid={n_mid} matched={n_match})"
            )
        # non-vacuity, each leg: the 5× wave is SERVED from the tail
        # (newest-wins over the committed layout), the resurrect is
        # alive, wave 2 is gone
        # the live wave D2 may legitimately include W ids (that IS the
        # within-batch delete-wins case) — the expectation is the ALIVE
        # wave, or a regenerated corpus whose top-3 catches a 5× vector
        # would false-fail a healthy build (review r12 pass 4)
        w_alive = emb.filter(w_pred).filter(~F.col("id").isin(D2))
        n_w = w_alive.count()
        n_w_srv = layout_mid.join(
            w_alive.select("id", times5), ["id", "vector"]
        ).count()
        n_r1 = layout_mid.filter(F.col("id") == r1).count()
        n_d2 = layout_mid.filter(F.col("id").isin(D2)).count()
        if not (0 < n_w == n_w_srv and n_r1 == 1 and n_d2 == 0):
            raise RuntimeError(
                f"ivf_crud artifact: mid-read legs wrong (wave "
                f"{n_w_srv}/{n_w}, resurrect={n_r1}, live-deleted={n_d2})"
            )
        _drain()  # NO new data: the pure replay of the marker batch
    after_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
    after_tail = set(glob.glob(f"{index_base}/tail/batch=3/*/*.parquet"))
    after_full = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
    if not before_del or before_del != after_del:
        # the marker partition is SKIP-IF-COMMITTED on replay (its
        # content is a pure function of the batch; an overwrite would
        # pass through a dir-absent window that silently un-applies the
        # deletes under a concurrent reader — review r12 pass 4), so
        # byte-identical across the replay IS the property
        raise RuntimeError(
            "ivf_crud artifact: _deletes/batch=3 changed across the "
            "crash-replay — the committed marker partition was rewritten"
        )
    if not before_tail or before_tail == after_tail:
        raise RuntimeError(
            "ivf_crud artifact: tail/batch=3 was not rewritten — the "
            "replay must redo the tail assignment"
        )
    if not before_full or before_full != after_full:
        raise RuntimeError(
            "ivf_crud artifact: full_v2 changed across the crash-replay "
            "— the committed version dir was mutated"
        )
    if os.path.exists(f"{index_base}/_skips/3"):
        raise RuntimeError(
            "ivf_crud artifact: the tail replay was skipped — it must "
            "re-run (only committed refresh batches skip)"
        )
    # replay CONVERGENCE: the rewritten state serves the same corpus
    ivf, layout = ivf_serving_view(spark, index_base)
    n_srv = layout.count()
    n_match = layout.select("id", "vector").join(
        final_exp, ["id", "vector"]
    ).count()
    if not (n_srv == n_match == n_exp):
        raise RuntimeError(
            f"ivf_crud artifact: post-replay serving view drifted "
            f"(expect={n_exp} serving={n_srv} matched={n_match})"
        )
    # the store's own merged view agrees — stream-applied CRUD is the
    # same state through both read paths
    store_rows = store.read().select("id", "vector")
    n_store, n_store_match = store_rows.count(), store_rows.join(
        final_exp, ["id", "vector"]
    ).count()
    # BIDIRECTIONAL: the join alone would miss extra surviving store
    # rows (e.g. a delete applied to the markers but lost on the store
    # path) — review r12 pass 4
    if not (n_store == n_store_match == n_exp):
        raise RuntimeError(
            f"ivf_crud artifact: store merged view (rows={n_store}, "
            f"matched={n_store_match}) disagrees with the serving view "
            f"({n_exp})"
        )
    # 5 segments: batches 0-3 + batch 3's replay duplicate
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"ivf_crud artifact: {n_seg} segments (want 5) — the replay "
            "duplicate did not land"
        )
    _write_rows(
        spark, f"{base}/probes_q2.parquet",
        [(int(c),) for c in ivf.probe_lists(np.asarray(qvec), 2)],
        "cluster_id bigint",
    )


def _ivf_crud_live_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_crud_live(spark, sf_dir)
    res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


def _sql_ivf_crud_ctes() -> str:
    """Shared oracle CTEs for the CRUD-maintained serving view:
    newest-wins (QUALIFY max-precedence per id) over the exported
    components (full_v2 ∪ tail 3), the exported live delete markers
    anti-joined by precedence, vectors from the CASE-transformed
    source. One copy for ivf_crud_live_knn and hybrid_crud_live_rrf's
    vector leg, so the two gates' oracles can never desynchronize (the
    _sql_ivf_live_ctes pattern)."""
    return f"""
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
f AS (SELECT id, cluster_id, CAST({_IVF_CRUD_REFRESH_AT} AS BIGINT) AS pri
      FROM read_parquet('{_ART01}/ivf_crud/index/full_v{_IVF_CRUD_REFRESH_AT}/layout.parquet/**/*.parquet', hive_partitioning=1)),
t3 AS (SELECT id, cluster_id, CAST(3 AS BIGINT) AS pri
       FROM read_parquet('{_ART01}/ivf_crud/index/tail/batch=3/**/*.parquet', hive_partitioning=1)),
win AS (SELECT id, cluster_id, pri
        FROM (SELECT * FROM f UNION ALL SELECT * FROM t3)
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pri DESC) = 1),
dd AS (SELECT id, CAST(3 AS BIGINT) AS db
       FROM read_parquet('{_ART01}/ivf_crud/index/_deletes/batch=3/*.parquet')),
alive AS (SELECT win.id, win.cluster_id FROM win LEFT JOIN dd USING (id)
          WHERE dd.db IS NULL OR dd.db < win.pri),
e AS (SELECT vec_id AS id,
        CASE WHEN vec_id = {_IVF_CRUD_RS_SQL} THEN list_transform(embedding::DOUBLE[], x -> x * 3.0)
             WHEN {_IVF_CRUD_W_SQL} THEN list_transform(embedding::DOUBLE[], x -> x * 5.0)
             WHEN {_IVF_CRUD_UPS_SQL} THEN list_transform(embedding::DOUBLE[], x -> -x)
             ELSE embedding::DOUBLE[] END AS v
      FROM embeddings),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/ivf_crud/probes_q2.parquet/*.parquet')),
vd AS (SELECT a.id AS vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
       FROM alive a JOIN p USING (cluster_id) JOIN e USING (id), q)
"""


_register(
    "ivf_crud_live_knn",
    _ivf_crud_live_knn,
    f"""
WITH {_sql_ivf_crud_ctes().strip()}
SELECT vec_id, score FROM vd ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ HYBRID OVER DOUBLY-CRUD'D STATE (r12 — the CRUD × CRUD fusion
# cell): RRF where the VECTOR leg searches the CRUD-maintained IVF
# serving view (ivf_crud's artifact — upsert waves, baked + live
# delete waves, resurrection, marker-batch crash replay) and the TEXT
# leg scores the CRUD'd store's newest-wins merged view (the
# bm25_crud_merge_score state — streamed upserts, a sequenced delete,
# resurrections past the watermark, a crash-replayed duplicate
# segment). The reference serves hybrid_search_index continuously
# while Remove/re-Add mutate BOTH underlying indexes; this is that
# serving shape with every mutation on each leg already under its own
# oracle gate. Oracle = the shared CRUD-IVF CTEs + the CRUD-corpus
# BM25 SQL folded by the exact RRF arithmetic.
def _hybrid_crud_live_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf, layout = _ivf_crud_live(spark, sf_dir)
    vec_res = ivf.search(layout, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    txt_res = _bm25_crud_index(spark, sf_dir).score(BM25_QUERY, k=K)
    return rrf(vec_res, txt_res, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_crud_live_rrf",
    _hybrid_crud_live_rrf,
    f"""
WITH {_sql_ivf_crud_ctes().strip()},
vres AS (SELECT vec_id AS id, score FROM vd ORDER BY score, vec_id LIMIT {K}),
dmod AS (SELECT doc_id,
                CASE WHEN doc_id % 8 = 0 THEN text || ' v2'
                     ELSE text END AS text
         FROM documents WHERE doc_id % 8 <> 4),
{_sql_bm25_ctes(table="dmod").strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY).strip().rstrip(',')},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ STREAM-WIRED PQ MAINTENANCE (r12 — the codes twin of
# ivf_live_refresh_knn; reference Add-after-train,
# ``pq_index.go:439-473``: post-train Adds are encoded with the
# EXISTING codebooks, only a retrain moves them): ``pq_ingest_stream``
# encodes each micro-batch with the current codebooks into a
# _SUCCESS-gated codes tail, and the scheduled refresh retrains +
# re-encodes the whole corpus under an immutable marker-committed
# full_v{N}. The injected crash lands BETWEEN the version commit and
# the checkpoint commit: the replay must SKIP (journaled), leaving the
# committed codes byte-identical and the codebooks unchanged. Oracle =
# the exported-LUT ADC replay (the pq_adc_knn scheme) over the serving
# view's two components (full_v2 codes ∪ the newer tail).
_PQ_LIVE_MOD = 4
_PQ_LIVE_REFRESH_AT = 2
_PQ_LIVE_CACHE: dict[tuple[str, str, str], tuple] = {}


def _pq_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import pq_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _PQ_LIVE_CACHE:
        _evict_superseded(_PQ_LIVE_CACHE, key, _unpin_view)
        base = f"{_art_dir(sf_dir)}/pq_live"
        full = f"{base}/index/full_v{_PQ_LIVE_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/codes.parquet",
            lambda: _build_pq_live_artifact(spark, sf_dir, base),
            table="embeddings",
            probe_paths=[
                f"{full}/codebooks.parquet",
                f"{base}/index/tail/batch={_PQ_LIVE_MOD - 1}",
                f"{base}/lut_q.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_PQ_LIVE_REFRESH_AT}",
                f"{base}/index/tail/batch={_PQ_LIVE_MOD - 1}/_SUCCESS",
            ],
        )
        _PQ_LIVE_CACHE[key] = _pin_view(pq_serving_view(spark, f"{base}/index"))
    return _PQ_LIVE_CACHE[key]


def _build_pq_live_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        pq_ingest_stream,
        pq_serving_view,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _PQ_LIVE_MOD == m  # noqa: E731
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: pq_ingest_stream(
            _emb_vec_stream(spark, src),
            store, index_base, checkpoint=ckpt, m=PQ_M, nbits=4,
            refresh_every=_PQ_LIVE_REFRESH_AT, max_iter=5,
        ),
        "pq_live",
    )
    with _scoped_shuffle_partitions(spark):
        for i in range(3):
            _add(emb.filter(res(i)))
        _drain()  # b0 boots v0, b1 tails codes, b2 REFRESHES → v2
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _PQ_LIVE_REFRESH_AT:
            raise RuntimeError(
                f"pq_live artifact: CURRENT={cur} after first drain "
                f"(want {_PQ_LIVE_REFRESH_AT})"
            )
        full2 = f"{index_base}/full_v{_PQ_LIVE_REFRESH_AT}"
        before = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
        # MID-READ: the committed view holds exactly the fed residues
        pq_mid, codes_mid = pq_serving_view(spark, index_base)
        books_mid = np.array(pq_mid.codebooks)
        fed = emb.filter(res(0) | res(1) | res(2)).select("id")
        n_fed, n_mid = fed.count(), codes_mid.count()
        n_match = codes_mid.join(fed, "id").count()
        if not (0 < n_fed == n_mid == n_match):
            raise RuntimeError(
                f"pq_live artifact: mid serving view drifted "
                f"(fed={n_fed} mid={n_mid} matched={n_match})"
            )
        _lose_latest_commit(ckpt)  # crash BETWEEN version and ckpt commit
        _add(emb.filter(res(3)))
        _drain()  # b2 replays → SKIPS (marker = done), b3 tails
    after = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
    if not before or before != after:
        raise RuntimeError(
            "pq_live artifact: full_v2 codes changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    if not os.path.exists(f"{index_base}/_skips/{_PQ_LIVE_REFRESH_AT}"):
        raise RuntimeError(
            "pq_live artifact: no skip journal for the refresh batch — "
            "the injected crash did not engage the replay"
        )
    pq, codes = pq_serving_view(spark, index_base)
    if not np.array_equal(np.array(pq.codebooks), books_mid):
        raise RuntimeError(
            "pq_live artifact: codebooks changed across the crash-replay "
            "— the skipped refresh was not a true no-op"
        )
    # final serving view = every fed id exactly once (tail batch=3
    # encoded with the v2 codebooks joined the view)
    n_src, n_srv = emb.count(), codes.count()
    n_match = codes.join(emb.select("id"), "id").count()
    if not (0 < n_src == n_srv == n_match):
        raise RuntimeError(
            f"pq_live artifact: final serving view drifted "
            f"(src={n_src} serving={n_srv} matched={n_match})"
        )
    # 4 segments for 4 fed batches: the committed-refresh skip held
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"pq_live artifact: {n_seg} segments for 4 fed batches "
            "(want 4) — the committed-refresh skip did not hold"
        )
    # GC IN THE GATE LIFECYCLE (r13 directive #6): collect the
    # superseded maintenance state post-drain, BEFORE the serving read
    # the oracle replays — the gate then proves post-GC serving parity,
    # not just removed-path sets. Non-vacuous: the boot version and the
    # pre-refresh tail must actually go; the serving components
    # (full_v2, tail 3, markers, _skips) must all survive.
    from comet_spark.streaming.ingest import gc_index_versions

    removed = {
        os.path.relpath(p, index_base)
        for p in gc_index_versions(spark, index_base)
    }
    if removed != {"full_v0", "tail/batch=1"}:
        raise RuntimeError(
            f"pq_live artifact: gc removed {sorted(removed)} (want "
            "full_v0 + tail/batch=1) — superseded state not collected "
            "or a live component deleted"
        )
    pq, codes = pq_serving_view(spark, index_base)
    if codes.count() != n_src or not os.path.exists(
        f"{index_base}/_skips/{_PQ_LIVE_REFRESH_AT}"
    ):
        raise RuntimeError(
            "pq_live artifact: serving changed after gc — a component "
            "a reader needs was deleted"
        )
    qvec = _hybrid_qvec(spark, sf_dir)
    lut = pq.lut(np.asarray(qvec))
    _write_rows(
        spark, f"{base}/lut_q.parquet",
        [(s, c, float(lut[s][c])) for s in range(pq.m) for c in range(pq.ksub)],
        "sub int, code int, dist double",
    )


def _pq_live_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq, codes = _pq_live(spark, sf_dir)
    res = pq.search(codes, _hybrid_qvec(spark, sf_dir), k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "pq_live_adc_knn",
    _pq_live_adc_knn,
    f"""
WITH c AS (SELECT id, codes FROM read_parquet('{_ART01}/pq_live/index/full_v{_PQ_LIVE_REFRESH_AT}/codes.parquet/*.parquet')
           UNION ALL
           SELECT id, codes FROM read_parquet('{_ART01}/pq_live/index/tail/batch={_PQ_LIVE_MOD - 1}/*.parquet')),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq_live/lut_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ IVFPQ LIVE MAINTENANCE (r13 directive #5 — the residual
# composition the reference maintains as one unit, ``ivfpq_index.go:
# 164-260``: a centroid retrain forces a residual re-encode):
# ``ivfpq_ingest_stream`` runs the shared codes-engine protocol with
# BOTH levels versioned together — tails encode (cluster_id + residual
# codes) with the CURRENT centroids+codebooks, the scheduled refresh
# retrains coarse + residual codebooks and re-encodes the corpus into
# an immutable marker-committed full_v{N}. The injected crash lands
# between the version commit and the checkpoint commit: the replay
# must SKIP (journaled), leaving codes byte-identical and BOTH model
# levels unchanged. Oracle = the per-cluster-LUT residual ADC replayed
# from exported artifacts over the serving union (full_v2 ∪ tail 3) —
# probing implicit (only probed clusters have LUT rows): the
# ivfpq_adc_knn scheme replayed against live-maintained state.
_IVFPQ_LIVE_MOD = 4
_IVFPQ_LIVE_REFRESH_AT = 2
_IVFPQ_LIVE_CACHE: dict[tuple[str, str, str], tuple] = {}


def _ivfpq_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import ivfpq_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVFPQ_LIVE_CACHE:
        _evict_superseded(_IVFPQ_LIVE_CACHE, key, _unpin_view)
        base = f"{_art_dir(sf_dir)}/ivfpq_live"
        full = f"{base}/index/full_v{_IVFPQ_LIVE_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/codes.parquet",
            lambda: _build_ivfpq_live_artifact(spark, sf_dir, base),
            table="embeddings",
            probe_paths=[
                f"{full}/ivf/centroids.parquet",
                f"{full}/pq/codebooks.parquet",
                f"{base}/index/tail/batch={_IVFPQ_LIVE_MOD - 1}",
                f"{base}/luts_q.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_IVFPQ_LIVE_REFRESH_AT}",
                f"{base}/index/tail/batch={_IVFPQ_LIVE_MOD - 1}/_SUCCESS",
            ],
        )
        _IVFPQ_LIVE_CACHE[key] = _pin_view(ivfpq_serving_view(spark, f"{base}/index"))
    return _IVFPQ_LIVE_CACHE[key]


def _build_ivfpq_live_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders — the _build_pq_live_artifact drive with the
    residual engine and a BOTH-LEVELS-unchanged replay assert)."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        ivfpq_ingest_stream,
        ivfpq_serving_view,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _IVFPQ_LIVE_MOD == m  # noqa: E731
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: ivfpq_ingest_stream(
            _emb_vec_stream(spark, src),
            store, index_base, checkpoint=ckpt, nlist=4, m=PQ_M, nbits=4,
            refresh_every=_IVFPQ_LIVE_REFRESH_AT, max_iter=5,
        ),
        "ivfpq_live",
    )
    with _scoped_shuffle_partitions(spark):
        for i in range(3):
            _add(emb.filter(res(i)))
        _drain()  # b0 boots v0, b1 tails codes, b2 REFRESHES → v2
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _IVFPQ_LIVE_REFRESH_AT:
            raise RuntimeError(
                f"ivfpq_live artifact: CURRENT={cur} after first drain "
                f"(want {_IVFPQ_LIVE_REFRESH_AT})"
            )
        full2 = f"{index_base}/full_v{_IVFPQ_LIVE_REFRESH_AT}"
        before = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
        # MID-READ: the committed view holds exactly the fed residues,
        # cluster-assigned
        ix_mid, codes_mid = ivfpq_serving_view(spark, index_base)
        cents_mid = np.array(ix_mid.ivf.centroids)
        books_mid = np.array(ix_mid.pq.codebooks)
        fed = emb.filter(res(0) | res(1) | res(2)).select("id")
        n_fed, n_mid = fed.count(), codes_mid.count()
        n_match = codes_mid.join(fed, "id").count()
        if not (0 < n_fed == n_mid == n_match):
            raise RuntimeError(
                f"ivfpq_live artifact: mid serving view drifted "
                f"(fed={n_fed} mid={n_mid} matched={n_match})"
            )
        _lose_latest_commit(ckpt)  # crash BETWEEN version and ckpt commit
        _add(emb.filter(res(3)))
        _drain()  # b2 replays → SKIPS (marker = done), b3 tails
    after = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
    if not before or before != after:
        raise RuntimeError(
            "ivfpq_live artifact: full_v2 codes changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    if not os.path.exists(f"{index_base}/_skips/{_IVFPQ_LIVE_REFRESH_AT}"):
        raise RuntimeError(
            "ivfpq_live artifact: no skip journal for the refresh batch "
            "— the injected crash did not engage the replay"
        )
    ix, codes = ivfpq_serving_view(spark, index_base)
    if not (
        np.array_equal(np.array(ix.ivf.centroids), cents_mid)
        and np.array_equal(np.array(ix.pq.codebooks), books_mid)
    ):
        raise RuntimeError(
            "ivfpq_live artifact: a model level changed across the "
            "crash-replay — the skipped refresh was not a true no-op"
        )
    # final serving view = every fed id exactly once, and the codes ARE
    # the both-levels-current encode of the merged corpus (tail batch 3
    # encoded under the v2 centroids+codebooks)
    n_src, n_srv = emb.count(), codes.count()
    n_match = codes.join(emb.select("id"), "id").count()
    if not (0 < n_src == n_srv == n_match):
        raise RuntimeError(
            f"ivfpq_live artifact: final serving view drifted "
            f"(src={n_src} serving={n_srv} matched={n_match})"
        )
    n_enc_match = codes.join(
        ix.encode(store.read()), ["id", "cluster_id", "codes"]
    ).count()
    if n_enc_match != n_src:
        raise RuntimeError(
            f"ivfpq_live artifact: serving codes diverge from the "
            f"direct encode ({n_enc_match}/{n_src}) — a tail was "
            "encoded under stale model state"
        )
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 4:
        raise RuntimeError(
            f"ivfpq_live artifact: {n_seg} segments for 4 fed batches "
            "(want 4) — the committed-refresh skip did not hold"
        )
    _write_cluster_luts(
        spark, ix, _hybrid_qvec(spark, sf_dir),
        f"{base}/luts_q.parquet", nprobe=2,
    )


def _ivfpq_live_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix, codes = _ivfpq_live(spark, sf_dir)
    res = ix.search(codes, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivfpq_live_adc_knn",
    _ivfpq_live_adc_knn,
    f"""
WITH c AS (SELECT id, cluster_id, codes FROM read_parquet('{_ART01}/ivfpq_live/index/full_v{_IVFPQ_LIVE_REFRESH_AT}/codes.parquet/*.parquet')
           UNION ALL
           SELECT id, cluster_id, codes FROM read_parquet('{_ART01}/ivfpq_live/index/tail/batch={_IVFPQ_LIVE_MOD - 1}/*.parquet')),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/ivfpq_live/luts_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ CRUD THROUGH THE LIVE PQ MAINTENANCE STREAM (r13 directive #1 —
# the codes engine is the one compressed layout a 100 TB deployment
# actually serves; reference Remove works on PQ, ``pq_index.go:318+``):
# ``pq_ingest_stream(op_col=...)`` carries upserts (tail RE-ENCODE with
# the current codebooks, newest-wins by version precedence) and delete
# markers (``_deletes/batch=N``, ``_SUCCESS``-gated, skip-if-committed,
# anti-joined by precedence through the SHARED _crud_resolved_view —
# one read plan for IVF layouts and PQ codes). The feed drives every
# CRUD × refresh cell: a negated upsert wave baked by the scheduled
# retrain (b2 re-trains codebooks on the post-CRUD merged view and
# re-encodes), a baked delete wave, a 5× upsert wave + resurrection +
# a LIVE delete wave that is the ADC query's exact undeleted top-3
# (non-vacuous BY CONSTRUCTION — computed from the v2 codebooks, so
# dropping the markers would serve exactly those three ids first), all
# in the marker batch the injected crash replays. Oracle = newest-wins
# QUALIFY over the exported components (full_v2 codes ∪ tail 3),
# precedence anti-join on the exported markers, exported-LUT ADC.
_PQ_CRUD_REFRESH_AT = 2
_PQ_CRUD_CACHE: dict[tuple[str, str, str], tuple] = {}


def _pq_crud_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import pq_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _PQ_CRUD_CACHE:
        _evict_superseded(_PQ_CRUD_CACHE, key, _unpin_view)
        base = f"{_art_dir(sf_dir)}/pq_crud"
        full = f"{base}/index/full_v{_PQ_CRUD_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/codes.parquet",
            lambda: _build_pq_crud_artifact(spark, sf_dir, base),
            table="embeddings",
            # EVERY component the serving path and the oracle read
            probe_paths=[
                f"{full}/codebooks.parquet",
                f"{base}/index/tail/batch=3",
                f"{base}/index/_deletes/batch=3",
                f"{base}/lut_q.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_PQ_CRUD_REFRESH_AT}",
                # the CRUD plan is opt-in by this marker: losing just it
                # would silently serve with deletes un-applied
                f"{base}/index/_crud",
                f"{base}/index/tail/batch=3/_SUCCESS",
                f"{base}/index/_deletes/batch=3/_SUCCESS",
            ],
        )
        _PQ_CRUD_CACHE[key] = _pin_view(pq_serving_view(spark, f"{base}/index"))
    return _PQ_CRUD_CACHE[key]


def _build_pq_crud_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders). The feed is the _ivf_crud recipe re-run through
    the codes engine, with one structural change: the LIVE delete wave
    D2 is the ADC top-3 under the v2 CODEBOOKS, which exist only after
    the refresh commits — so the drive is staged (drain b0-b2, compute
    D2 from the committed books, feed the marker batch, drain, crash,
    replay-drain) instead of one feed."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.operators.ann import PQIndex
    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        pq_ingest_stream,
        pq_serving_view,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res, P, L, r1 = _crud_wave_algebra(emb, "pq_crud")
    ups_pred, d1_pred, w_pred = P["ups"], P["d1"], P["w"]
    negated, times5, times3 = L["negated"], L["times5"], L["times3"]
    op_null, mark, novec = L["op_null"], L["mark"], L["novec"]
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: pq_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, m=PQ_M, nbits=4,
            refresh_every=_PQ_CRUD_REFRESH_AT, max_iter=5, op_col="op",
        ),
        "pq_crud",
    )
    txf = _ivf_crud_txf(emb, r1)  # the shared CASE-transformed corpus
    undeleted = txf.filter(~d1_pred | (F.col("id") == r1))
    qvec = _hybrid_qvec(spark, sf_dir)

    with _scoped_shuffle_partitions(spark):
        _add(emb.filter(res(0)).select("id", "vector", op_null))
        _add(  # batch 1: residue-1 inserts + the NEGATED upsert leg
            emb.filter(res(1)).select("id", "vector", op_null).unionByName(
                emb.filter(ups_pred).select("id", negated, op_null)
            )
        )
        _add(  # batch 2 (the REFRESH): residue-2 inserts + delete wave 1
            emb.filter(res(2)).select("id", "vector", op_null).unionByName(
                emb.filter(d1_pred).select("id", novec, mark)
            )
        )
        _drain()  # b0 boots v0, b1 tails, b2 refreshes → v2
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _PQ_CRUD_REFRESH_AT:
            raise RuntimeError(
                f"pq_crud artifact: CURRENT={cur} after first drain "
                f"(want {_PQ_CRUD_REFRESH_AT})"
            )
        full2 = f"{index_base}/full_v{_PQ_CRUD_REFRESH_AT}"
        pq2 = PQIndex.load(spark, full2)
        baked = spark.read.parquet(f"{full2}/codes.parquet")
        # the refresh BAKED the CRUD state: wave-1 ids out of full_v2,
        # the negated upserts in (codes-exact — the codebooks were
        # re-trained on the post-CRUD merged view)
        n_d1 = baked.join(emb.filter(d1_pred).select("id"), "id").count()
        n_ups = emb.filter(ups_pred).count()
        n_ups_baked = baked.join(
            pq2.encode(emb.filter(ups_pred).select("id", negated)),
            ["id", "codes"],
        ).count()
        if not (n_d1 == 0 and 0 < n_ups == n_ups_baked):
            raise RuntimeError(
                f"pq_crud artifact: refresh did not bake the CRUD state "
                f"(wave-1 leftovers={n_d1}, upserts {n_ups_baked}/{n_ups})"
            )
        # the FINAL alive corpus' codes are exactly encode(txf) under
        # the v2 books (b3 upserts re-encode; everything else is the
        # baked full_v2 row) — so the ADC top-3 of the undeleted state
        # is computable NOW, and becomes the live delete wave: the
        # query's exact undeleted top-3, non-vacuous by construction
        enc_undel = pq2.encode(undeleted).persist()
        D2 = [
            int(r["id"])
            for r in pq2.search(
                enc_undel.filter(F.col("id") != r1), qvec, k=3
            ).collect()
        ]
        final_codes_exp = enc_undel.filter(~F.col("id").isin(D2))
        exp_top = [
            (int(r["id"]), float(r["score"]))
            for r in pq2.search(final_codes_exp, qvec, k=K).collect()
        ]
        _add(  # batch 3 (the MARKER batch): inserts + 5× wave +
            # resurrect + LIVE delete wave D2, one micro-batch
            emb.filter(res(3)).select("id", "vector", op_null)
            .unionByName(emb.filter(w_pred).select("id", times5, op_null))
            .unionByName(
                emb.filter(F.col("id") == r1).select("id", times3, op_null)
            )
            .unionByName(
                spark.createDataFrame(
                    [(i, None, "delete") for i in D2],
                    "id bigint, vector array<double>, op string",
                )
            )
        )
        _drain()  # b3 tails + markers
        before_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
        before_tail = set(glob.glob(f"{index_base}/tail/batch=3/*.parquet"))
        before_full = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
        _lose_latest_commit(ckpt)  # crash → the MARKER batch will replay
        # MID-READ (post-crash pre-replay — landed tail + markers, lost
        # checkpoint commit): the served codes equal the expected final
        pq_mid, codes_mid = pq_serving_view(spark, index_base)
        n_exp, n_mid = final_codes_exp.count(), codes_mid.count()
        n_match = codes_mid.join(final_codes_exp, ["id", "codes"]).count()
        if not (0 < n_exp == n_mid == n_match):
            raise RuntimeError(
                f"pq_crud artifact: mid serving view drifted "
                f"(expect={n_exp} mid={n_mid} matched={n_match})"
            )
        # non-vacuity, each leg: the 5× wave is SERVED from the tail
        # (newest-wins codes over the committed full_v2), the resurrect
        # is alive, the live wave D2 — the undeleted top-3 — is gone,
        # and the mid search returns exactly the expected post-delete
        # top-K (D2 may include W ids: that IS within-batch delete-wins)
        w_alive = emb.filter(w_pred).filter(~F.col("id").isin(D2))
        n_w = w_alive.count()
        n_w_srv = codes_mid.join(
            pq2.encode(w_alive.select("id", times5)), ["id", "codes"]
        ).count()
        n_r1 = codes_mid.filter(F.col("id") == r1).count()
        n_d2 = codes_mid.filter(F.col("id").isin(D2)).count()
        mid_top = [
            (int(r["id"]), float(r["score"]))
            for r in pq_mid.search(codes_mid, qvec, k=K).collect()
        ]
        if not (
            0 < n_w == n_w_srv and n_r1 == 1 and n_d2 == 0
            and len(D2) == 3 and mid_top == exp_top
        ):
            raise RuntimeError(
                f"pq_crud artifact: mid-read legs wrong (wave "
                f"{n_w_srv}/{n_w}, resurrect={n_r1}, live-deleted={n_d2}, "
                f"topk_match={mid_top == exp_top})"
            )
        enc_undel.unpersist()
        _drain()  # NO new data: the pure replay of the marker batch
    after_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
    after_tail = set(glob.glob(f"{index_base}/tail/batch=3/*.parquet"))
    after_full = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
    if not before_del or before_del != after_del:
        # skip-if-committed: byte-identical across the replay IS the
        # property (an overwrite would pass through a dir-absent window
        # that silently un-applies the deletes under a concurrent reader)
        raise RuntimeError(
            "pq_crud artifact: _deletes/batch=3 changed across the "
            "crash-replay — the committed marker partition was rewritten"
        )
    if not before_tail or before_tail == after_tail:
        raise RuntimeError(
            "pq_crud artifact: tail/batch=3 was not rewritten — the "
            "replay must redo the tail encode"
        )
    if not before_full or before_full != after_full:
        raise RuntimeError(
            "pq_crud artifact: full_v2 codes changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    if os.path.exists(f"{index_base}/_skips/3"):
        raise RuntimeError(
            "pq_crud artifact: the tail replay was skipped — it must "
            "re-run (only committed refresh batches skip)"
        )
    # replay CONVERGENCE: the rewritten state serves the same codes
    pq, codes = pq_serving_view(spark, index_base)
    n_srv = codes.count()
    n_match = codes.join(pq.encode(undeleted).filter(
        ~F.col("id").isin(D2)
    ), ["id", "codes"]).count()
    if not (n_srv == n_match == n_exp):
        raise RuntimeError(
            f"pq_crud artifact: post-replay serving view drifted "
            f"(expect={n_exp} serving={n_srv} matched={n_match})"
        )
    # the store's own merged view agrees BIDIRECTIONALLY on vectors —
    # stream-applied CRUD is the same state through both read paths
    final_exp = undeleted.filter(~F.col("id").isin(D2))
    store_rows = store.read().select("id", "vector")
    n_store, n_store_match = store_rows.count(), store_rows.join(
        final_exp, ["id", "vector"]
    ).count()
    if not (n_store == n_store_match == n_exp):
        raise RuntimeError(
            f"pq_crud artifact: store merged view (rows={n_store}, "
            f"matched={n_store_match}) disagrees with the serving view "
            f"({n_exp})"
        )
    # 5 segments: batches 0-3 + batch 3's replay duplicate
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"pq_crud artifact: {n_seg} segments (want 5) — the replay "
            "duplicate did not land"
        )
    lut = pq.lut(np.asarray(qvec))
    _write_rows(
        spark, f"{base}/lut_q.parquet",
        [(s, c, float(lut[s][c])) for s in range(pq.m) for c in range(pq.ksub)],
        "sub int, code int, dist double",
    )


def _pq_crud_live_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq, codes = _pq_crud_live(spark, sf_dir)
    res = pq.search(codes, _hybrid_qvec(spark, sf_dir), k=K)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "pq_crud_live_adc",
    _pq_crud_live_adc,
    f"""
WITH f AS (SELECT id, codes, CAST({_PQ_CRUD_REFRESH_AT} AS BIGINT) AS pri
           FROM read_parquet('{_ART01}/pq_crud/index/full_v{_PQ_CRUD_REFRESH_AT}/codes.parquet/*.parquet')),
t3 AS (SELECT id, codes, CAST(3 AS BIGINT) AS pri
       FROM read_parquet('{_ART01}/pq_crud/index/tail/batch=3/*.parquet')),
win AS (SELECT id, codes, pri
        FROM (SELECT * FROM f UNION ALL SELECT * FROM t3)
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pri DESC) = 1),
dd AS (SELECT id, CAST(3 AS BIGINT) AS db
       FROM read_parquet('{_ART01}/pq_crud/index/_deletes/batch=3/*.parquet')),
c AS (SELECT win.id, win.codes FROM win LEFT JOIN dd USING (id)
      WHERE dd.db IS NULL OR dd.db < win.pri),
l AS (SELECT sub, code, dist FROM read_parquet('{_ART01}/pq_crud/lut_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ CRUD THROUGH THE LIVE IVFPQ STREAM (r13 — the fourth and last
# vector engine in the CRUD × live-maintenance matrix; the reference's
# Remove/re-Add ride the shared write path on the residual index too,
# ``ivfpq_index.go:164-341``): the shared _codes_engine_stream CRUD
# protocol instantiated with both model levels — upserts RE-ASSIGN and
# re-encode into the tail (a moved vector can change clusters; the
# newest-wins row carries its new cluster_id so pruning stays honest),
# the scheduled retrain re-trains coarse + residual codebooks on the
# post-CRUD merged view and bakes markers, and the live delete wave D2
# is the PRUNED residual-ADC query's exact undeleted top-3 under the
# v2 model (staged drive, the pq_crud recipe). Oracle = newest-wins
# QUALIFY over (full_v2 ∪ tail 3) carrying (id, cluster_id, codes),
# precedence anti-join on the exported markers, per-cluster-LUT ADC.
_IVFPQ_CRUD_REFRESH_AT = 2
_IVFPQ_CRUD_CACHE: dict[tuple[str, str, str], tuple] = {}


def _ivfpq_crud_live(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import ivfpq_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _IVFPQ_CRUD_CACHE:
        _evict_superseded(_IVFPQ_CRUD_CACHE, key, _unpin_view)
        base = f"{_art_dir(sf_dir)}/ivfpq_crud"
        full = f"{base}/index/full_v{_IVFPQ_CRUD_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/codes.parquet",
            lambda: _build_ivfpq_crud_artifact(spark, sf_dir, base),
            table="embeddings",
            probe_paths=[
                f"{full}/ivf/centroids.parquet",
                f"{full}/pq/codebooks.parquet",
                f"{base}/index/tail/batch=3",
                f"{base}/index/_deletes/batch=3",
                f"{base}/luts_q.parquet",
            ],
            probe_files=[
                f"{base}/index/_versions/{_IVFPQ_CRUD_REFRESH_AT}",
                f"{base}/index/_crud",
                f"{base}/index/tail/batch=3/_SUCCESS",
                f"{base}/index/_deletes/batch=3/_SUCCESS",
            ],
        )
        _IVFPQ_CRUD_CACHE[key] = _pin_view(ivfpq_serving_view(spark, f"{base}/index"))
    return _IVFPQ_CRUD_CACHE[key]


def _build_ivfpq_crud_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness — the _build_pq_crud_artifact
    staged drive with the residual engine: D2 needs the v2
    centroids+codebooks, so the marker batch is fed only after the
    refresh commits."""
    import glob
    import shutil

    from comet_spark.operators.ann import IVFPQIndex
    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        ivfpq_ingest_stream,
        ivfpq_serving_view,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res, P, L, r1 = _crud_wave_algebra(emb, "ivfpq_crud")
    ups_pred, d1_pred, w_pred = P["ups"], P["d1"], P["w"]
    negated, times5, times3 = L["negated"], L["times5"], L["times3"]
    op_null, mark, novec = L["op_null"], L["mark"], L["novec"]
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: ivfpq_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=4, m=PQ_M, nbits=4,
            refresh_every=_IVFPQ_CRUD_REFRESH_AT, max_iter=5, op_col="op",
        ),
        "ivfpq_crud",
    )
    txf = _ivf_crud_txf(emb, r1)
    undeleted = txf.filter(~d1_pred | (F.col("id") == r1))
    qvec = _hybrid_qvec(spark, sf_dir)

    with _scoped_shuffle_partitions(spark):
        _add(emb.filter(res(0)).select("id", "vector", op_null))
        _add(
            emb.filter(res(1)).select("id", "vector", op_null).unionByName(
                emb.filter(ups_pred).select("id", negated, op_null)
            )
        )
        _add(
            emb.filter(res(2)).select("id", "vector", op_null).unionByName(
                emb.filter(d1_pred).select("id", novec, mark)
            )
        )
        _drain()  # b0 boots v0, b1 tails, b2 refreshes → v2
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _IVFPQ_CRUD_REFRESH_AT:
            raise RuntimeError(
                f"ivfpq_crud artifact: CURRENT={cur} after first drain "
                f"(want {_IVFPQ_CRUD_REFRESH_AT})"
            )
        full2 = f"{index_base}/full_v{_IVFPQ_CRUD_REFRESH_AT}"
        ix2 = IVFPQIndex.load(spark, full2)
        baked = spark.read.parquet(f"{full2}/codes.parquet")
        n_d1 = baked.join(emb.filter(d1_pred).select("id"), "id").count()
        n_ups = emb.filter(ups_pred).count()
        n_ups_baked = baked.join(
            ix2.encode(emb.filter(ups_pred).select("id", negated)),
            ["id", "cluster_id", "codes"],
        ).count()
        if not (n_d1 == 0 and 0 < n_ups == n_ups_baked):
            raise RuntimeError(
                f"ivfpq_crud artifact: refresh did not bake the CRUD "
                f"state (wave-1 leftovers={n_d1}, upserts "
                f"{n_ups_baked}/{n_ups})"
            )
        # the live delete wave: the PRUNED residual-ADC query's exact
        # undeleted top-3 under the v2 model — non-vacuous by
        # construction (dropping the markers serves exactly these first)
        enc_undel = ix2.encode(undeleted).persist()
        D2 = [
            int(r["id"])
            for r in ix2.search(
                enc_undel.filter(F.col("id") != r1), qvec, k=3, nprobe=2
            ).collect()
        ]
        final_codes_exp = enc_undel.filter(~F.col("id").isin(D2))
        exp_top = [
            (int(r["id"]), float(r["score"]))
            for r in ix2.search(final_codes_exp, qvec, k=K, nprobe=2).collect()
        ]
        _add(
            emb.filter(res(3)).select("id", "vector", op_null)
            .unionByName(emb.filter(w_pred).select("id", times5, op_null))
            .unionByName(
                emb.filter(F.col("id") == r1).select("id", times3, op_null)
            )
            .unionByName(
                spark.createDataFrame(
                    [(i, None, "delete") for i in D2],
                    "id bigint, vector array<double>, op string",
                )
            )
        )
        _drain()  # b3 tails + markers
        before_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
        before_tail = set(glob.glob(f"{index_base}/tail/batch=3/*.parquet"))
        before_full = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
        _lose_latest_commit(ckpt)  # crash → the MARKER batch will replay
        # MID-READ: the served codes equal the expected final — id,
        # CLUSTER (upserts may have moved lists), and codes all exact
        ix_mid, codes_mid = ivfpq_serving_view(spark, index_base)
        n_exp, n_mid = final_codes_exp.count(), codes_mid.count()
        n_match = codes_mid.join(
            final_codes_exp, ["id", "cluster_id", "codes"]
        ).count()
        if not (0 < n_exp == n_mid == n_match):
            raise RuntimeError(
                f"ivfpq_crud artifact: mid serving view drifted "
                f"(expect={n_exp} mid={n_mid} matched={n_match})"
            )
        w_alive = emb.filter(w_pred).filter(~F.col("id").isin(D2))
        n_w = w_alive.count()
        n_w_srv = codes_mid.join(
            ix2.encode(w_alive.select("id", times5)),
            ["id", "cluster_id", "codes"],
        ).count()
        n_r1 = codes_mid.filter(F.col("id") == r1).count()
        n_d2 = codes_mid.filter(F.col("id").isin(D2)).count()
        mid_top = [
            (int(r["id"]), float(r["score"]))
            for r in ix_mid.search(codes_mid, qvec, k=K, nprobe=2).collect()
        ]
        if not (
            0 < n_w == n_w_srv and n_r1 == 1 and n_d2 == 0
            and len(D2) == 3 and mid_top == exp_top
        ):
            raise RuntimeError(
                f"ivfpq_crud artifact: mid-read legs wrong (wave "
                f"{n_w_srv}/{n_w}, resurrect={n_r1}, live-deleted={n_d2}, "
                f"topk_match={mid_top == exp_top})"
            )
        enc_undel.unpersist()
        _drain()  # NO new data: the pure replay of the marker batch
    after_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
    after_tail = set(glob.glob(f"{index_base}/tail/batch=3/*.parquet"))
    after_full = set(glob.glob(f"{full2}/codes.parquet/*.parquet"))
    if not before_del or before_del != after_del:
        raise RuntimeError(
            "ivfpq_crud artifact: _deletes/batch=3 changed across the "
            "crash-replay — the committed marker partition was rewritten"
        )
    if not before_tail or before_tail == after_tail:
        raise RuntimeError(
            "ivfpq_crud artifact: tail/batch=3 was not rewritten — the "
            "replay must redo the tail encode"
        )
    if not before_full or before_full != after_full:
        raise RuntimeError(
            "ivfpq_crud artifact: full_v2 codes changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    if os.path.exists(f"{index_base}/_skips/3"):
        raise RuntimeError(
            "ivfpq_crud artifact: the tail replay was skipped — it must "
            "re-run (only committed refresh batches skip)"
        )
    ix, codes = ivfpq_serving_view(spark, index_base)
    n_srv = codes.count()
    n_match = codes.join(
        ix.encode(undeleted).filter(~F.col("id").isin(D2)),
        ["id", "cluster_id", "codes"],
    ).count()
    if not (n_srv == n_match == n_exp):
        raise RuntimeError(
            f"ivfpq_crud artifact: post-replay serving view drifted "
            f"(expect={n_exp} serving={n_srv} matched={n_match})"
        )
    final_exp = undeleted.filter(~F.col("id").isin(D2))
    store_rows = store.read().select("id", "vector")
    n_store, n_store_match = store_rows.count(), store_rows.join(
        final_exp, ["id", "vector"]
    ).count()
    if not (n_store == n_store_match == n_exp):
        raise RuntimeError(
            f"ivfpq_crud artifact: store merged view (rows={n_store}, "
            f"matched={n_store_match}) disagrees with the serving view "
            f"({n_exp})"
        )
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"ivfpq_crud artifact: {n_seg} segments (want 5) — the "
            "replay duplicate did not land"
        )
    _write_cluster_luts(spark, ix, qvec, f"{base}/luts_q.parquet", nprobe=2)


def _ivfpq_crud_live_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix, codes = _ivfpq_crud_live(spark, sf_dir)
    res = ix.search(codes, _hybrid_qvec(spark, sf_dir), k=K, nprobe=2)
    return res.select(F.col("id").alias("vec_id"), "score")


_register(
    "ivfpq_crud_live_adc",
    _ivfpq_crud_live_adc,
    f"""
WITH f AS (SELECT id, cluster_id, codes, CAST({_IVFPQ_CRUD_REFRESH_AT} AS BIGINT) AS pri
           FROM read_parquet('{_ART01}/ivfpq_crud/index/full_v{_IVFPQ_CRUD_REFRESH_AT}/codes.parquet/*.parquet')),
t3 AS (SELECT id, cluster_id, codes, CAST(3 AS BIGINT) AS pri
       FROM read_parquet('{_ART01}/ivfpq_crud/index/tail/batch=3/*.parquet')),
win AS (SELECT id, cluster_id, codes, pri
        FROM (SELECT * FROM f UNION ALL SELECT * FROM t3)
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pri DESC) = 1),
dd AS (SELECT id, CAST(3 AS BIGINT) AS db
       FROM read_parquet('{_ART01}/ivfpq_crud/index/_deletes/batch=3/*.parquet')),
c AS (SELECT win.id, win.cluster_id, win.codes FROM win LEFT JOIN dd USING (id)
      WHERE dd.db IS NULL OR dd.db < win.pri),
l AS (SELECT cluster_id, sub, code, dist FROM read_parquet('{_ART01}/ivfpq_crud/luts_q.parquet/*.parquet')),
d AS ({_sql_adc('c', 'l', extra_on=' AND l{s}.cluster_id = c.cluster_id')})
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ HNSW LIVE CONSOLIDATION (r12 — closes the sub-graph growth loose
# end the r11 gate documented: hnsw_ingest_stream's per-batch
# sub-graphs grow with batch count; reference rebuild-on-compaction).
# ``refresh_every`` now drives a consolidation INSIDE foreachBatch:
# batch 2 rebuilds ONE sub-graph set over the merged store view into a
# marker-committed immutable full_v2 (the IVF version protocol), and
# the serving view walks full_v2 ∪ per-batch dirs NEWER than it only.
# The injected crash lands between the consolidation commit and the
# checkpoint commit — the replay must SKIP (journaled), full_v2 byte-
# identical. The builder asserts the consolidated beam's recall vs the
# exact top-K is ≥ the pre-consolidation beam's on the same query
# (deterministic: seeded builds on a fixed corpus). Oracle = the
# exported candidate set replayed as an exact L2 scan (the
# hnsw_live_topk scheme over consolidated state).
_HNSW_COMPACT_MOD = 4
# the consolidation fires on an EMPTY scheduled trigger (batch 3 — the
# ADVICE-r11 empty-refresh rule under its own gate), so the pre- and
# post-consolidation beams compare against the SAME corpus/ground truth
_HNSW_COMPACT_REFRESH_AT = 3
# consolidated sub-graphs are capped at the recall-compare ef: a beam
# with ef >= sub-graph size walks the whole (connected) sub-graph, so
# the consolidated recall is structurally >= the per-batch one on the
# same corpus — the >= assert cannot false-fail on a regenerated
# fixture (review r12 pass 6)
_HNSW_COMPACT_EF = 100
_HNSW_COMPACT_CACHE: dict[tuple[str, str, str], object] = {}


def _hnsw_compact(spark: SparkSession, sf_dir: str):
    from comet_spark.streaming.ingest import hnsw_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _HNSW_COMPACT_CACHE:
        _evict_superseded(_HNSW_COMPACT_CACHE, key, _unpersist_graphs)
        base = f"{_art_dir(sf_dir)}/hnsw_compact"
        graphs = f"{base}/graphs"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{graphs}/meta.parquet",
            lambda: _build_hnsw_compact_artifact(spark, sf_dir, base),
            table="embeddings",
            probe_paths=[
                f"{graphs}/full_v{_HNSW_COMPACT_REFRESH_AT}/parts",
                f"{graphs}/parts/batch=4",
            ],
            probe_files=[
                f"{graphs}/_versions/{_HNSW_COMPACT_REFRESH_AT}",
                f"{graphs}/full_v{_HNSW_COMPACT_REFRESH_AT}/parts/_SUCCESS",
                f"{graphs}/parts/batch=4/_SUCCESS",
            ],
        )
        ix = hnsw_serving_view(spark, graphs)
        ix.graphs = ix.graphs.cache()
        _HNSW_COMPACT_CACHE[key] = ix
    return _HNSW_COMPACT_CACHE[key]


def _build_hnsw_compact_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    from comet_spark.functions.vector import distance
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, graph_base = f"{base}/store", f"{base}/graphs"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res = lambda m: F.col("id") % _HNSW_COMPACT_MOD == m  # noqa: E731
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: hnsw_ingest_stream(
            _emb_vec_stream(spark, src),
            store, graph_base, checkpoint=ckpt, m=8, parts_per_batch=4,
            refresh_every=_HNSW_COMPACT_REFRESH_AT,
            consolidate_rows_per_part=_HNSW_COMPACT_EF,
        ),
        "hnsw_compact",
    )
    qvec = _hybrid_qvec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])

    def _recall(beam_ids: set, corpus: DataFrame) -> float:
        top = {
            r["id"]
            for r in corpus.select(
                "id", distance("l2", F.col("vector"), qlit).alias("d")
            ).orderBy("d", "id").limit(K).collect()
        }
        return len(beam_ids & top) / len(top)

    with _scoped_shuffle_partitions(spark):
        for i in range(3):
            _add(emb.filter(res(i)))
        _drain()  # batches 0-2 → per-batch sub-graphs only
        fed3 = emb.filter(res(0) | res(1) | res(2))
        pre_ix = hnsw_serving_view(spark, graph_base)
        pre_beam = {
            r["id"]
            for r in pre_ix.candidates(
                qvec, ef_search=_HNSW_COMPACT_EF
            ).distinct().collect()
        }
        pre_recall = _recall(pre_beam, fed3)
        # batch 3: an EMPTY trigger ON the consolidation schedule — the
        # rebuild covers exactly the corpus the pre-beam saw, so the
        # recall comparison below is same-ground-truth
        _add(emb.filter(res(0)).limit(0))
        _drain()
        full3 = f"{graph_base}/full_v{_HNSW_COMPACT_REFRESH_AT}"
        if not os.path.exists(
            f"{graph_base}/_versions/{_HNSW_COMPACT_REFRESH_AT}"
        ):
            raise RuntimeError(
                "hnsw_compact artifact: consolidation marker missing "
                "after the empty scheduled trigger"
            )
        before = set(glob.glob(f"{full3}/parts/*.parquet"))
        _lose_latest_commit(ckpt)  # crash between commit and ckpt commit
        # MID-READ in the post-crash pre-replay state: the consolidated
        # graph serves exactly data-fed-so-far, and its beam recall on
        # the SAME corpus is ≥ the per-batch beams' — structurally: the
        # consolidated sub-graphs are ef-capped, so the beam walks each
        # whole sub-graph
        mid_ix = hnsw_serving_view(spark, graph_base)
        mid_beam = {
            r["id"]
            for r in mid_ix.candidates(
                qvec, ef_search=_HNSW_COMPACT_EF
            ).distinct().collect()
        }
        fed = {r["id"] for r in fed3.select("id").collect()}
        if not (mid_beam and mid_beam <= fed):
            raise RuntimeError(
                f"hnsw_compact artifact: mid-read beam has "
                f"{len(mid_beam - fed)} ids outside data-fed-so-far"
            )
        mid_recall = _recall(mid_beam, fed3)
        if mid_recall < pre_recall:
            raise RuntimeError(
                f"hnsw_compact artifact: consolidation degraded beam "
                f"recall ({pre_recall:.2f} → {mid_recall:.2f})"
            )
        _add(emb.filter(res(3)))
        _drain()  # batch 3 replays → SKIPS; batch 4 → per-batch dir
    after = set(glob.glob(f"{full3}/parts/*.parquet"))
    if not before or before != after:
        raise RuntimeError(
            "hnsw_compact artifact: full_v3 parts changed across the "
            "crash-replay — the committed consolidation was mutated"
        )
    if not os.path.exists(f"{graph_base}/_skips/{_HNSW_COMPACT_REFRESH_AT}"):
        raise RuntimeError(
            "hnsw_compact artifact: no skip journal for the "
            "consolidation batch — the injected crash did not engage"
        )
    # the view is BOUNDED by consolidation: exactly full_v3's sub-graphs
    # plus ONE newer batch dir — per-batch dirs 0..2 are no longer read
    ix = hnsw_serving_view(spark, graph_base)
    n_sub = ix.graphs.count()
    n_full = spark.read.parquet(f"{full3}/parts").count()
    n_tail = spark.read.parquet(f"{graph_base}/parts/batch=4").count()
    if n_sub != n_full + n_tail:
        raise RuntimeError(
            f"hnsw_compact artifact: serving view has {n_sub} sub-graphs "
            f"(want {n_full}+{n_tail}) — stale per-batch dirs leaked in"
        )
    cand = ix.candidates(qvec, ef_search=_HNSW_COMPACT_EF).distinct()
    n_outside = cand.join(emb.select("id"), "id", "left_anti").count()
    reach = cand.select(
        (F.col("id") % _HNSW_COMPACT_MOD).alias("r")
    ).distinct().count()
    if not (n_outside == 0 and reach == _HNSW_COMPACT_MOD):
        raise RuntimeError(
            f"hnsw_compact artifact: beam reaches {reach}/"
            f"{_HNSW_COMPACT_MOD} residues with {n_outside} outside ids"
        )


def _hnsw_live_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scoring + top-k over the CONSOLIDATED graph's beam (the
    hnsw_live_topk scheme over marker-committed consolidated state; ef
    threaded from the same constant the builder's asserts use)."""
    return _hnsw_export_topk(
        spark, sf_dir, _hnsw_compact(spark, sf_dir), "hnsw_compact",
        ef_search=_HNSW_COMPACT_EF,
    )


_register(
    "hnsw_live_compact_topk",
    _hnsw_live_compact_topk,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/hnsw_compact/candidates.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT e.vec_id, embedding::DOUBLE[] AS v FROM embeddings e JOIN c ON c.id = e.vec_id),
d AS (SELECT vec_id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score FROM e, q)
SELECT vec_id, score FROM d ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ CRUD THROUGH THE LIVE GRAPH STREAM (r13 directive #2 — reference
# ``hnsw_index.go:305-431`` removes nodes with graph repair, and
# deleted nodes still ROUTE traversal, ``hnsw_index.go:507-510``):
# ``hnsw_ingest_stream(op_col=...)`` lands upserts as per-batch
# sub-graphs that SHADOW older beams at the scored output (the exact
# rescore semi-joins the beam against the store's newest-wins merged
# view, so an upserted id scores with its NEWEST vector whichever
# sub-graph surfaced it) and deletes as the store's sequenced
# soft-delete — exclusion applied AFTER the beam, the reference's
# exact semantics. The scheduled consolidation (b3) BAKES the CRUD
# state out of the graph (builder-asserted by node count: deleted rows
# leave entirely). The LIVE delete wave D2 is the exact undeleted
# top-3 — non-vacuous by construction: its baked nodes STILL ROUTE
# (builder asserts D2 ⊆ the beam) while the served top-k excludes
# them, which is precisely 'a deleted id was in the undeleted top-k'.
# The injected crash replays the b4 marker batch: sub-graph dir
# rewritten, consolidation byte-identical, store converged. Oracle =
# exact L2 over (exported beam ∩ the CASE-transformed alive corpus).
_HNSW_CRUD_REFRESH_AT = 3
_HNSW_CRUD_EF = 100
_HNSW_CRUD_CACHE: dict[tuple[str, str, str], object] = {}


def _hnsw_crud(spark: SparkSession, sf_dir: str):
    """(serving graph, alive store view) over the CRUD'd stream
    artifact — the graph carries stale/deleted nodes by design; the
    store's merged view is the single alive/newest authority the
    rescore joins against."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_serving_view

    key = _live_cache_key(spark, sf_dir, "embeddings")
    if key not in _HNSW_CRUD_CACHE:
        _evict_superseded(_HNSW_CRUD_CACHE, key, lambda t: _unpersist_graphs(t[0]))
        base = f"{_art_dir(sf_dir)}/hnsw_crud"
        graphs = f"{base}/graphs"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{graphs}/meta.parquet",
            lambda: _build_hnsw_crud_artifact(spark, sf_dir, base),
            table="embeddings",
            # the STORE is a serving component here (alive + newest
            # vectors) — probe it like meta_crud_stream does
            probe_paths=[
                f"{graphs}/full_v{_HNSW_CRUD_REFRESH_AT}/parts",
                f"{graphs}/parts/batch=4",
                f"{base}/store/data", f"{base}/store/_deletes",
                f"{base}/d2.parquet",
            ],
            probe_files=[
                f"{graphs}/_versions/{_HNSW_CRUD_REFRESH_AT}",
                f"{graphs}/full_v{_HNSW_CRUD_REFRESH_AT}/parts/_SUCCESS",
                f"{graphs}/parts/batch=4/_SUCCESS",
            ],
        )
        ix = hnsw_serving_view(spark, graphs)
        ix.graphs = ix.graphs.cache()
        store = DocumentStore(spark, f"{base}/store", id_col="id")
        _HNSW_CRUD_CACHE[key] = (ix, store)
    return _HNSW_CRUD_CACHE[key]


def _build_hnsw_crud_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    from comet_spark.functions.vector import distance
    from comet_spark.operators.hnsw import DistributedHNSW, score_candidates
    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, graph_base = f"{base}/store", f"{base}/graphs"
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    res, P, L, r1 = _crud_wave_algebra(emb, "hnsw_crud")
    ups_pred, d1_pred, w_pred = P["ups"], P["d1"], P["w"]
    negated, times5, times3 = L["negated"], L["times5"], L["times3"]
    op_null, mark, novec = L["op_null"], L["mark"], L["novec"]
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: hnsw_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, graph_base, checkpoint=ckpt, m=8, parts_per_batch=4,
            refresh_every=_HNSW_CRUD_REFRESH_AT,
            consolidate_rows_per_part=_HNSW_CRUD_EF, op_col="op",
        ),
        "hnsw_crud",
    )
    txf = _ivf_crud_txf(emb, r1)  # the shared CASE-transformed corpus
    undeleted = txf.filter(~d1_pred | (F.col("id") == r1))
    qvec = _hybrid_qvec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    D2 = [
        int(r["id"])
        for r in undeleted.filter(F.col("id") != r1)
        .select("id", distance("l2", F.col("vector"), qlit).alias("d"))
        .orderBy("d", "id").limit(3).collect()
    ]
    final_exp = undeleted.filter(~F.col("id").isin(D2))
    exp_top = [
        (int(r["id"]), float(r["score"]))
        for r in final_exp.select(
            "id", F.round(
                distance("l2", F.col("vector"), qlit), 6
            ).alias("score")
        ).orderBy("score", "id").limit(K).collect()
    ]

    with _scoped_shuffle_partitions(spark):
        _add(emb.filter(res(0)).select("id", "vector", op_null))
        _add(  # batch 1: residue-1 inserts + the NEGATED upsert leg
            emb.filter(res(1)).select("id", "vector", op_null).unionByName(
                emb.filter(ups_pred).select("id", negated, op_null)
            )
        )
        _add(  # batch 2: residue-2 inserts + delete wave 1
            emb.filter(res(2)).select("id", "vector", op_null).unionByName(
                emb.filter(d1_pred).select("id", novec, mark)
            )
        )
        _add(emb.filter(res(3)).select("id", "vector", op_null))  # b3 = CONSOLIDATION
        _add(  # batch 4 (the LIVE wave): 5× wave + resurrect + delete
            # wave D2 — the exact undeleted top-3 — one micro-batch
            emb.filter(w_pred).select("id", times5, op_null)
            .unionByName(
                emb.filter(F.col("id") == r1).select("id", times3, op_null)
            )
            .unionByName(
                spark.createDataFrame(
                    [(i, None, "delete") for i in D2],
                    "id bigint, vector array<double>, op string",
                )
            )
        )
        _drain()  # b0-b2 parts, b3 consolidates → v3, b4 parts + deletes
        fs = _FS(spark, graph_base)
        if not fs.exists(f"{graph_base}/_versions/{_HNSW_CRUD_REFRESH_AT}"):
            raise RuntimeError(
                "hnsw_crud artifact: consolidation marker missing after "
                "the drain"
            )
        full3 = f"{graph_base}/full_v{_HNSW_CRUD_REFRESH_AT}"
        # the consolidation BAKED the CRUD state: node count over the
        # full_v3 sub-graphs == the post-CRUD corpus at b3 (all four
        # residues in, wave 1 out, r1 not yet resurrected) — deleted
        # rows leave the graph entirely, they can no longer route
        n_baked = spark.read.parquet(f"{full3}/parts").agg(
            F.sum("n_rows")
        ).first()[0]
        n_b3 = emb.count() - emb.filter(d1_pred).count()
        if n_baked != n_b3:
            raise RuntimeError(
                f"hnsw_crud artifact: consolidation holds {n_baked} nodes "
                f"(want {n_b3}) — the CRUD state was not baked"
            )
        before_parts = set(glob.glob(f"{graph_base}/parts/batch=4/*.parquet"))
        before_full = set(glob.glob(f"{full3}/parts/*.parquet"))
        _lose_latest_commit(ckpt)  # crash → the LIVE wave batch replays
        # MID-READ (post-crash pre-replay): deleted ids STILL ROUTE —
        # D2's baked nodes surface in the beam — while the served top-k
        # excludes them and scores upserts with their NEWEST vectors
        ix_mid = hnsw_serving_view(spark, graph_base)
        cand_mid = ix_mid.candidates(qvec, ef_search=_HNSW_CRUD_EF).distinct()
        beam_ids = {int(r["id"]) for r in cand_mid.collect()}
        if not set(D2) <= beam_ids:
            raise RuntimeError(
                f"hnsw_crud artifact: live-deleted top-3 {D2} not all in "
                f"the beam — deleted nodes must still route "
                f"(missing={sorted(set(D2) - beam_ids)})"
            )
        store_mid = store.read()
        mid_top = [
            (int(r["id"]), float(r["score"]))
            for r in score_candidates(
                store_mid, cand_mid, qvec, metric="l2", k=K
            ).collect()
        ]
        if any(i in D2 for i, _ in mid_top):
            raise RuntimeError(
                "hnsw_crud artifact: a live-deleted id was SERVED — the "
                "rescore semi-join did not exclude it"
            )
        # beam recall floor vs the exact undeleted-final top-K: the
        # ef-capped consolidated sub-graphs walk whole, so the beam
        # covers the corpus structurally — but keep a floor, not
        # equality, against sub-graph disconnection on a regen
        hits = len({i for i, _ in mid_top} & {i for i, _ in exp_top})
        if hits < int(0.9 * K):
            raise RuntimeError(
                f"hnsw_crud artifact: beam recall {hits}/{K} below floor "
                "on the undeleted-final top-K"
            )
        # the store agrees BIDIRECTIONALLY with the CASE corpus (this
        # is what lets the oracle take vectors from SQL)
        n_exp = final_exp.count()
        n_store = store_mid.select("id", "vector").count()
        n_match = store_mid.select("id", "vector").join(
            final_exp, ["id", "vector"]
        ).count()
        if not (0 < n_exp == n_store == n_match):
            raise RuntimeError(
                f"hnsw_crud artifact: store merged view (rows={n_store}, "
                f"matched={n_match}) disagrees with the CASE corpus "
                f"({n_exp})"
            )
        _drain()  # NO new data: the pure replay of the live-wave batch
    after_parts = set(glob.glob(f"{graph_base}/parts/batch=4/*.parquet"))
    after_full = set(glob.glob(f"{full3}/parts/*.parquet"))
    if not before_parts or before_parts == after_parts:
        raise RuntimeError(
            "hnsw_crud artifact: parts/batch=4 was not rewritten — the "
            "replay must redo the sub-graph build"
        )
    if not before_full or before_full != after_full:
        raise RuntimeError(
            "hnsw_crud artifact: full_v3 parts changed across the "
            "crash-replay — the committed consolidation was mutated"
        )
    if os.path.exists(f"{graph_base}/_skips/4"):
        raise RuntimeError(
            "hnsw_crud artifact: the live-wave replay was skipped — it "
            "must re-run (only committed consolidation batches skip)"
        )
    # replay CONVERGENCE: same served top-k, same store state
    ix = hnsw_serving_view(spark, graph_base)
    cand = ix.candidates(qvec, ef_search=_HNSW_CRUD_EF).distinct()
    post_top = [
        (int(r["id"]), float(r["score"]))
        for r in score_candidates(
            store.read(), cand, qvec, metric="l2", k=K
        ).collect()
    ]
    if post_top != mid_top:
        raise RuntimeError(
            "hnsw_crud artifact: post-replay top-k drifted from the "
            "mid-read"
        )
    # 6 segments: batches 0-4 + batch 4's replay duplicate
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 6:
        raise RuntimeError(
            f"hnsw_crud artifact: {n_seg} segments (want 6) — the replay "
            "duplicate did not land"
        )
    _write_rows(
        spark, f"{base}/d2.parquet", [(int(i),) for i in D2], "id bigint"
    )


def _hnsw_crud_live_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE beam over the CRUD'd graph (stale/deleted nodes routing),
    exact rescore against the store's newest-wins merged view — the
    shared _hnsw_export_topk protocol with the STORE as the vector
    authority and the SAME ef the builder's asserts verified."""
    ix, store = _hnsw_crud(spark, sf_dir)
    return _hnsw_export_topk(
        spark, sf_dir, ix, "hnsw_crud", vectors=store.read(),
        ef_search=_HNSW_CRUD_EF,
    )


_register(
    "hnsw_crud_live_topk",
    _hnsw_crud_live_topk,
    f"""
WITH c AS (SELECT id FROM read_parquet('{_ART01}/hnsw_crud/candidates.parquet/*.parquet')),
d2 AS (SELECT id FROM read_parquet('{_ART01}/hnsw_crud/d2.parquet/*.parquet')),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
e AS (SELECT vec_id AS id,
        CASE WHEN vec_id = {_IVF_CRUD_RS_SQL} THEN list_transform(embedding::DOUBLE[], x -> x * 3.0)
             WHEN {_IVF_CRUD_W_SQL} THEN list_transform(embedding::DOUBLE[], x -> x * 5.0)
             WHEN {_IVF_CRUD_UPS_SQL} THEN list_transform(embedding::DOUBLE[], x -> -x)
             ELSE embedding::DOUBLE[] END AS v
      FROM embeddings
      WHERE NOT ({_IVF_CRUD_D1_SQL}) OR vec_id = {_IVF_CRUD_RS_SQL}),
alive AS (SELECT e.id, e.v FROM e LEFT JOIN d2 USING (id) WHERE d2.id IS NULL),
vd AS (SELECT a.id AS vec_id, ROUND({_sql_l2('a.v', 'q.qv')}, 6) AS score
       FROM alive a JOIN c USING (id), q)
SELECT vec_id, score FROM vd ORDER BY score, vec_id LIMIT {K}
""",
)


# ★ THE UNIFIED HYBRID DOCUMENT STREAM (r13 directive #3 — the
# reference's unit of ingest is ONE document carrying (vector, text,
# metadata) under one ID, added atomically: index.go:103-139 fans a
# single Add into the vector index, the text index, and storage,
# storage.go:233-250): doc_ingest_stream drives ONE feed
# (id, vector, text, lang, op) through ONE checkpoint into ONE store +
# the versioned IVF layout; doc_serving_views derives the three
# modality surfaces from that one commit history. An upsert moves a
# document's vector AND text in the same micro-batch (the ' v2'/' v3'
# suffixes shift tokenization while the vector negates/scales — both
# legs' rankings move together or the oracle catches the split), a
# delete vanishes from all three views at once, and the injected crash
# replays the marker batch through EVERY sink idempotently (store
# segment duplicate hidden, delete re-issued, marker skip-if-committed,
# tail rewritten, full_v2 untouched). Served MID-DRAIN: metadata
# prefilter (lang) → IVF-pruned vector leg + merged-view BM25 text leg
# → RRF. Oracle = the CASE-transformed corpus on BOTH modalities: the
# vector leg replays newest-wins/anti-join over the exported layout
# components with the live markers, the text leg folds the full BM25
# arithmetic over the alive CASE corpus, RRF folds both.
_DOC_STREAM_REFRESH_AT = 2
_DOC_STREAM_CACHE: dict[tuple[str, str, str], tuple] = {}
# wave predicates over doc ids, as SQL (the _IVF_CRUD_* shapes with
# the documents id column)
_DOC_UPS_SQL = "d.doc_id % 4 = 0 AND d.doc_id % 3 = 0"
_DOC_D1_SQL = "d.doc_id % 10 = 7 AND d.doc_id % 4 < 3"
_DOC_W_SQL = "d.doc_id % 9 = 1 AND d.doc_id % 4 < 3 AND d.doc_id % 10 <> 7"
_DOC_RS_SQL = (
    # MIN over the UNIFIED corpus (docs that have an embedding) — at
    # sf<=0.01 coverage is total so the join is a no-op; at larger SFs
    # the feed (and so r1) ranges over the embedded subset only
    "(SELECT MIN(doc_id) FROM documents JOIN embeddings "
    "ON doc_id = vec_id WHERE doc_id % 10 = 7 AND doc_id % 4 < 3)"
)


def _doc_stream_views(spark: SparkSession, sf_dir: str):
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import doc_serving_views

    key = _live_cache_key(spark, sf_dir, "documents+embeddings")
    if key not in _DOC_STREAM_CACHE:
        def _unpersist_views(t) -> None:
            # the merged docs serving view is cache()d too (r14)
            _unpersist_bm25(t[2])
            t[3].unpersist()

        _evict_superseded(_DOC_STREAM_CACHE, key, _unpersist_views)
        base = f"{_art_dir(sf_dir)}/doc_stream"
        full = f"{base}/index/full_v{_DOC_STREAM_REFRESH_AT}"
        _fresh_stream_artifact(
            spark, sf_dir, base, f"{full}/layout.parquet",
            lambda: _build_doc_stream_artifact(spark, sf_dir, base),
            table="documents+embeddings",
            # EVERY component the three serving views and the oracle read
            probe_paths=[
                f"{full}/centroids.parquet", f"{full}/meta.parquet",
                f"{base}/index/tail/batch=3",
                f"{base}/index/_deletes/batch=3",
                f"{base}/probes_q2.parquet",
                f"{base}/store/data", f"{base}/store/_deletes",
            ],
            probe_files=[
                f"{base}/index/_versions/{_DOC_STREAM_REFRESH_AT}",
                f"{base}/index/_crud",
                f"{base}/index/tail/batch=3/_SUCCESS",
                f"{base}/index/_deletes/batch=3/_SUCCESS",
            ],
        )
        store = DocumentStore(spark, f"{base}/store", id_col="id")
        # normalize=False: the driver corpus is ASCII-asserted and the
        # ' v2'/' v3' suffixes are ASCII (the bm25_crud precedent);
        # cache=True pays the merged-view tokenize once per session
        _DOC_STREAM_CACHE[key] = doc_serving_views(
            spark, store, f"{base}/index", normalize=False
        )
    return _DOC_STREAM_CACHE[key]


def _doc_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified-document source: the documents that HAVE an
    embedding, joined under one id. At sf<=0.01 every document has one
    (the join is 1:1 over documents); at sf0.1 embeddings cover a
    subset, so the unified feed is that subset — the builder checks
    the join is exactly 1:1 over EMBEDDINGS (no fan-out, none
    dropped), and the oracle restricts its corpus identically."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        docs["doc_id"].alias("id"),
        emb["embedding"].cast("array<double>").alias("vector"),
        docs["text"],
        docs["lang"],
    )


def _build_doc_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import glob
    import shutil

    import numpy as np

    from comet_spark.functions.vector import distance
    from comet_spark.storage.store import DocumentStore, _FS
    from comet_spark.streaming.ingest import (
        _ivf_current,
        doc_ingest_stream,
        doc_serving_views,
    )

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    store_path, index_base = f"{base}/store", f"{base}/index"
    corpus = _doc_stream_feed(spark, sf_dir)
    n_emb = _t(spark, sf_dir, "embeddings").count()
    n_corpus = corpus.count()
    if not (
        0 < n_corpus == n_emb
        == corpus.select("id").distinct().count()
    ):
        raise RuntimeError(
            "doc_stream artifact: documents ⨝ embeddings is not 1:1 "
            f"over embeddings (corpus={n_corpus}, embeddings={n_emb}) — "
            "an embedding was dropped or a doc_id matched twice"
        )
    res, P, L, r1 = _crud_wave_algebra(corpus, "doc_stream")
    ups_pred, d1_pred, w_pred = P["ups"], P["d1"], P["w"]
    negated, times5, times3 = L["negated"], L["times5"], L["times3"]
    op_null, mark = L["op_null"], L["mark"]
    t_v2 = F.concat(F.col("text"), F.lit(" v2")).alias("text")
    t_v3 = F.concat(F.col("text"), F.lit(" v3")).alias("text")
    store = DocumentStore(spark, store_path, id_col="id")
    _add, _drain = _feed_drain(
        spark, src,
        lambda: doc_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, text string, "
                "lang string, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=8,
            refresh_every=_DOC_STREAM_REFRESH_AT, op_col="op",
        ),
        "doc_stream",
    )
    # the CASE-transformed corpus on BOTH modalities (branch order
    # mirrors the SQL; legs mutually exclusive by arithmetic)
    txf = corpus.select(
        "id",
        F.when(F.col("id") == r1, F.transform("vector", lambda x: x * F.lit(3.0)))
        .when(w_pred, F.transform("vector", lambda x: x * F.lit(5.0)))
        .when(ups_pred, F.transform("vector", lambda x: -x))
        .otherwise(F.col("vector"))
        .alias("vector"),
        F.when(F.col("id") == r1, F.concat(F.col("text"), F.lit(" v3")))
        .when(w_pred, F.concat(F.col("text"), F.lit(" v3")))
        .when(ups_pred, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    undeleted = txf.filter(~d1_pred | (F.col("id") == r1))
    qvec = _hybrid_qvec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    D2 = [
        int(r["id"])
        for r in undeleted.filter(F.col("id") != r1)
        .select("id", distance("l2", F.col("vector"), qlit).alias("d"))
        .orderBy("d", "id").limit(3).collect()
    ]
    final_exp = undeleted.filter(~F.col("id").isin(D2))
    sel = lambda df: df.select("id", "vector", "text", "lang")  # noqa: E731

    with _scoped_shuffle_partitions(spark):
        _add(sel(corpus.filter(res(0))).withColumn("op", op_null))
        _add(  # batch 1: residue-1 inserts + the upsert wave — vector
            # NEGATED and text ' v2' suffixed, one document, one op
            sel(corpus.filter(res(1))).withColumn("op", op_null).unionByName(
                corpus.filter(ups_pred).select(
                    "id", negated, t_v2, "lang"
                ).withColumn("op", op_null)
            )
        )
        _add(  # batch 2 (the REFRESH): residue-2 inserts + delete wave 1
            sel(corpus.filter(res(2))).withColumn("op", op_null).unionByName(
                corpus.filter(d1_pred).select(
                    "id",
                    F.lit(None).cast("array<double>").alias("vector"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang"),
                ).withColumn("op", mark)
            )
        )
        _add(  # batch 3 (the MARKER batch): inserts + the ' v3' 5× wave
            # + resurrect + LIVE delete wave D2, one micro-batch
            sel(corpus.filter(res(3))).withColumn("op", op_null)
            .unionByName(
                corpus.filter(w_pred).select("id", times5, t_v3, "lang")
                .withColumn("op", op_null)
            )
            .unionByName(
                corpus.filter(F.col("id") == r1).select(
                    "id", times3, t_v3, "lang"
                ).withColumn("op", op_null)
            )
            .unionByName(
                spark.createDataFrame(
                    [(i, None, None, None, "delete") for i in D2],
                    "id bigint, vector array<double>, text string, "
                    "lang string, op string",
                )
            )
        )
        _drain()  # b0 boots v0, b1 tails, b2 refreshes → v2, b3 tails
        fs = _FS(spark, index_base)
        cur = _ivf_current(fs, index_base)
        if cur != _DOC_STREAM_REFRESH_AT:
            raise RuntimeError(
                f"doc_stream artifact: CURRENT={cur} after the drain "
                f"(want {_DOC_STREAM_REFRESH_AT})"
            )
        full2 = f"{index_base}/full_v{_DOC_STREAM_REFRESH_AT}"
        baked = spark.read.parquet(f"{full2}/layout.parquet")
        # the refresh BAKED the CRUD state into the layout, which must
        # carry ONLY the vector modality (id, vector, cluster_id)
        if set(baked.columns) != {"id", "vector", "cluster_id"}:
            raise RuntimeError(
                f"doc_stream artifact: layout columns {baked.columns} — "
                "the index side must project to (id, vector)"
            )
        n_d1 = baked.join(corpus.filter(d1_pred).select("id"), "id").count()
        n_ups = corpus.filter(ups_pred).count()
        n_ups_baked = baked.join(
            corpus.filter(ups_pred).select("id", negated), ["id", "vector"]
        ).count()
        if not (n_d1 == 0 and 0 < n_ups == n_ups_baked):
            raise RuntimeError(
                f"doc_stream artifact: refresh did not bake the CRUD "
                f"state (wave-1 leftovers={n_d1}, upserts "
                f"{n_ups_baked}/{n_ups})"
            )
        before_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
        before_tail = set(glob.glob(f"{index_base}/tail/batch=3/*/*.parquet"))
        before_full = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
        _lose_latest_commit(ckpt)  # crash → the MARKER batch will replay
        # MID-READ (post-crash pre-replay): ALL THREE VIEWS serve the
        # same final document state
        ivf, layout, bm, docs = doc_serving_views(
            spark, store, index_base, normalize=False
        )
        n_exp = final_exp.count()
        n_docs_srv = docs.select("id", "vector", "text", "lang").count()
        n_match = docs.select("id", "vector", "text", "lang").join(
            final_exp, ["id", "vector", "text", "lang"]
        ).count()
        if not (0 < n_exp == n_docs_srv == n_match):
            raise RuntimeError(
                f"doc_stream artifact: merged doc view drifted "
                f"(expect={n_exp} served={n_docs_srv} matched={n_match}) "
                "— an upsert split its modalities or a delete leaked"
            )
        n_lay = layout.count()
        n_lay_match = layout.select("id", "vector").join(
            final_exp.select("id", "vector"), ["id", "vector"]
        ).count()
        if not (n_lay == n_lay_match == n_exp):
            raise RuntimeError(
                f"doc_stream artifact: vector layout drifted "
                f"(expect={n_exp} layout={n_lay} matched={n_lay_match})"
            )
        # text-leg non-vacuity: the upsert suffixes are REAL tokens in
        # the merged view — ' v3' hits exactly the alive b3 upserts,
        # ' v2' exactly the (disjoint) b1 upserts
        v3_ids = {int(r["id"]) for r in bm.score("v3", k=n_exp).collect()}
        w_alive = {
            int(r["id"])
            for r in corpus.filter(w_pred).filter(
                ~F.col("id").isin(D2)
            ).select("id").collect()
        } | {r1}
        v2_ids = {int(r["id"]) for r in bm.score("v2", k=n_exp).collect()}
        ups_ids = {
            int(r["id"])
            for r in corpus.filter(ups_pred).filter(
                ~F.col("id").isin(D2)
            ).select("id").collect()
        }
        if not (v3_ids == w_alive and v2_ids == ups_ids and v3_ids and v2_ids):
            raise RuntimeError(
                f"doc_stream artifact: text upserts not served "
                f"(v3 {len(v3_ids)}/{len(w_alive)}, "
                f"v2 {len(v2_ids)}/{len(ups_ids)})"
            )
        # vector-leg non-vacuity: the live wave D2 is the undeleted
        # top-3 and is gone; the resurrect is alive in every view
        n_d2 = layout.filter(F.col("id").isin(D2)).count()
        n_r1 = docs.filter(F.col("id") == r1).count()
        if not (len(D2) == 3 and n_d2 == 0 and n_r1 == 1):
            raise RuntimeError(
                f"doc_stream artifact: live legs wrong "
                f"(live-deleted={n_d2}, resurrect={n_r1})"
            )
        _drain()  # NO new data: the pure replay of the marker batch
    after_del = set(glob.glob(f"{index_base}/_deletes/batch=3/*.parquet"))
    after_tail = set(glob.glob(f"{index_base}/tail/batch=3/*/*.parquet"))
    after_full = set(glob.glob(f"{full2}/layout.parquet/*/*.parquet"))
    if not before_del or before_del != after_del:
        raise RuntimeError(
            "doc_stream artifact: _deletes/batch=3 changed across the "
            "crash-replay — the committed marker partition was rewritten"
        )
    if not before_tail or before_tail == after_tail:
        raise RuntimeError(
            "doc_stream artifact: tail/batch=3 was not rewritten — the "
            "replay must redo the tail assignment"
        )
    if not before_full or before_full != after_full:
        raise RuntimeError(
            "doc_stream artifact: full_v2 changed across the "
            "crash-replay — the committed version dir was mutated"
        )
    if os.path.exists(f"{index_base}/_skips/3"):
        raise RuntimeError(
            "doc_stream artifact: the tail replay was skipped — it must "
            "re-run (only committed refresh batches skip)"
        )
    # replay CONVERGENCE through every sink: the store serves the same
    # document state, with one duplicate segment from the replay
    store_rows = store.read().select("id", "vector", "text", "lang")
    n_store, n_store_match = store_rows.count(), store_rows.join(
        final_exp, ["id", "vector", "text", "lang"]
    ).count()
    if not (n_store == n_store_match == n_exp):
        raise RuntimeError(
            f"doc_stream artifact: post-replay store view "
            f"(rows={n_store}, matched={n_store_match}) disagrees with "
            f"the expected corpus ({n_exp})"
        )
    n_seg = store._segments().select("segment").distinct().count()
    if n_seg != 5:
        raise RuntimeError(
            f"doc_stream artifact: {n_seg} segments (want 5) — the "
            "replay duplicate did not land"
        )
    # GC IN THE GATE LIFECYCLE (r13 directive #6), on a CRUD base: the
    # boot version and pre-refresh tail go; the serving components —
    # full_v2, tail 3, and CRITICALLY the live _deletes/batch=3 marker
    # (> the committed version) — must survive, and the post-GC views
    # are what the oracle replays, so a marker wrongly collected would
    # resurrect D2 straight into a driver hash mismatch.
    from comet_spark.streaming.ingest import gc_index_versions, ivf_serving_view

    removed = {
        os.path.relpath(p, index_base)
        for p in gc_index_versions(spark, index_base)
    }
    if removed != {"full_v0", "tail/batch=1"}:
        raise RuntimeError(
            f"doc_stream artifact: gc removed {sorted(removed)} (want "
            "full_v0 + tail/batch=1) — superseded state not collected "
            "or a live component deleted"
        )
    if not os.path.exists(f"{index_base}/_deletes/batch=3/_SUCCESS"):
        raise RuntimeError(
            "doc_stream artifact: gc deleted the LIVE delete marker — "
            "serving would resurrect the live-deleted top-3"
        )
    _, layout_gc, _, docs_gc = doc_serving_views(
        spark, store, index_base, normalize=False
    )
    if layout_gc.count() != n_exp or docs_gc.count() != n_exp:
        raise RuntimeError(
            "doc_stream artifact: serving changed after gc — a "
            "component a reader needs was deleted"
        )

    ivf, _ = ivf_serving_view(spark, index_base)
    _write_rows(
        spark, f"{base}/probes_q2.parquet",
        [(int(c),) for c in ivf.probe_lists(np.asarray(qvec), 2)],
        "cluster_id bigint",
    )


def _hybrid_doc_stream_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata prefilter → IVF-pruned vector leg + merged-view BM25
    text leg → RRF, all three surfaces served off the ONE document
    stream's committed state."""
    ivf, layout, bm, docs = _doc_stream_views(spark, sf_dir)
    qvec = _hybrid_qvec(spark, sf_dir)
    cand_ids = docs.filter(F.col("lang") == HYBRID_LANG).select("id")
    vres = ivf.search(
        layout.join(cand_ids, "id", "left_semi"), qvec, k=K, nprobe=2
    )
    tres = bm.score(BM25_QUERY, k=K, prefilter_ids=cand_ids)
    return rrf(vres, tres, k=K).select(F.col("id").alias("doc_id"), "score")


_register(
    "hybrid_doc_stream_rrf",
    _hybrid_doc_stream_rrf,
    f"""
WITH dd AS (SELECT id, CAST(3 AS BIGINT) AS db
            FROM read_parquet('{_ART01}/doc_stream/index/_deletes/batch=3/*.parquet')),
dmod AS (SELECT d.doc_id,
                CASE WHEN d.doc_id = {_DOC_RS_SQL} THEN d.text || ' v3'
                     WHEN {_DOC_W_SQL} THEN d.text || ' v3'
                     WHEN {_DOC_UPS_SQL} THEN d.text || ' v2'
                     ELSE d.text END AS text
         FROM documents d LEFT JOIN dd ON d.doc_id = dd.id
         WHERE (NOT ({_DOC_D1_SQL}) OR d.doc_id = {_DOC_RS_SQL})
           AND dd.id IS NULL
           AND d.doc_id IN (SELECT vec_id FROM embeddings)),
{_sql_bm25_ctes(table="dmod").strip().rstrip(',')},
{_sql_bm25_score(BM25_QUERY, cand_where=f"lang = '{HYBRID_LANG}'").strip().rstrip(',')},
tres AS (SELECT id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT {K}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
f AS (SELECT id, cluster_id, CAST({_DOC_STREAM_REFRESH_AT} AS BIGINT) AS pri
      FROM read_parquet('{_ART01}/doc_stream/index/full_v{_DOC_STREAM_REFRESH_AT}/layout.parquet/**/*.parquet', hive_partitioning=1)),
t3 AS (SELECT id, cluster_id, CAST(3 AS BIGINT) AS pri
       FROM read_parquet('{_ART01}/doc_stream/index/tail/batch=3/**/*.parquet', hive_partitioning=1)),
win AS (SELECT id, cluster_id, pri
        FROM (SELECT * FROM f UNION ALL SELECT * FROM t3)
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pri DESC) = 1),
alive AS (SELECT win.id, win.cluster_id FROM win LEFT JOIN dd ON win.id = dd.id
          WHERE dd.db IS NULL OR dd.db < win.pri),
e AS (SELECT d.doc_id AS id,
        CASE WHEN d.doc_id = {_DOC_RS_SQL} THEN list_transform(em.embedding::DOUBLE[], x -> x * 3.0)
             WHEN {_DOC_W_SQL} THEN list_transform(em.embedding::DOUBLE[], x -> x * 5.0)
             WHEN {_DOC_UPS_SQL} THEN list_transform(em.embedding::DOUBLE[], x -> -x)
             ELSE em.embedding::DOUBLE[] END AS v,
        d.lang
      FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id),
p AS (SELECT cluster_id FROM read_parquet('{_ART01}/doc_stream/probes_q2.parquet/*.parquet')),
vd AS (SELECT a.id, ROUND({_sql_l2('e.v', 'q.qv')}, 6) AS score
       FROM alive a JOIN p USING (cluster_id) JOIN e USING (id), q
       WHERE e.lang = '{HYBRID_LANG}'),
vres AS (SELECT id, score FROM vd ORDER BY score, id LIMIT {K}),
vrank AS (SELECT id, row_number() OVER (ORDER BY score ASC, id ASC) - 1 AS r FROM vres),
trank AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) - 1 AS r FROM tres)
SELECT coalesce(vrank.id, trank.id) AS doc_id,
       ROUND(coalesce(1.0/(60.0 + vrank.r), 0) + coalesce(1.0/(60.0 + trank.r), 0), 6) AS score
FROM vrank FULL OUTER JOIN trank ON vrank.id = trank.id
ORDER BY score DESC, doc_id LIMIT {K}
""",
)


# ★ EXACT dedup on the stream under the oracle gate — the last
# streaming operator that was pytest-only: ``dedup_stream``
# (dropDuplicatesWithinWatermark on the content hash, the
# bounded-state exact-dedup a continuous 100 TB ingest needs) driven
# over micro-batches WITH an injected crash. The corpus has no exact
# duplicate texts at any SF, so the feed adds a synthetic RE-CRAWL leg
# (every doc_id % 5 = 0 doc re-ingested under a fresh id with the SAME
# text in the LAST batch) — cross-batch duplicates exist by
# construction, and the recrawls of residue-{0,1} docs arrive batches
# AFTER their originals, so dropping them proves the dedup state
# CARRIES across micro-batches and survives the crash-replay (the
# replayed batch reloads its state-store version and re-emits an
# identical first-seen set). Emitted = each hash's first-seen batch
# only; oracle = the distinct content hashes of the corpus (the
# recrawl adds none). Null-text docs are excluded from the feed: their
# whole-row fallback hash embeds the synthetic id, which would make
# the recrawl leg emit rather than dedup.
_DEDUP_STREAM_BATCHES = 3


def _dedup_stream_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/dedup_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_dedup_stream_artifact(spark, sf_dir, base),
    ).select("content_hash")


def _build_dedup_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders)."""
    import shutil

    from comet_spark.streaming.ingest import dedup_stream

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("text").isNotNull()
    )
    # batch tag b: originals split by residue; the recrawl leg (same
    # text, fresh id — what a re-post/re-crawl looks like) rides the
    # LAST batch so residue-{0,1} duplicates cross batch boundaries
    feed = docs.select(
        "doc_id", "text", (F.col("doc_id") % _DEDUP_STREAM_BATCHES).alias("b")
    ).unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text",
            F.lit(_DEDUP_STREAM_BATCHES - 1).alias("b"),
        )
    )
    n_cross = docs.filter(
        (F.col("doc_id") % 5 == 0)
        & (F.col("doc_id") % _DEDUP_STREAM_BATCHES != _DEDUP_STREAM_BATCHES - 1)
    ).count()
    if not n_cross:
        raise RuntimeError(
            "dedup_stream artifact: no recrawl crosses a batch boundary "
            "— the cross-batch dedup leg would be vacuous"
        )

    def _sink(df: DataFrame, bid: int) -> None:
        # append-mode: the batch df is exactly the hashes FIRST SEEN
        # this batch; a replayed batch reloads its state-store version
        # and re-emits the identical set — partition overwrite is
        # idempotent
        df.select("content_hash").coalesce(1).write.mode("overwrite").parquet(
            f"{out}/batch={int(bid)}"
        )

    def _start():
        deduped = dedup_stream(
            spark.readStream.schema("doc_id bigint, text string, b bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            # constant event time: the watermark never evicts dedup
            # state mid-drive, so the emitted set is exactly
            # first-seen-per-hash (TTL behavior is dedup_stream's unit
            # tests' concern; this gate pins the dedup decisions)
            .withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000))),
            text_col="text", ts_col="ts", watermark="1 hour",
        )
        return (
            deduped.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    _drive_stream_with_crash(
        spark, name="dedup_stream", rows=feed,
        n_batches=_DEDUP_STREAM_BATCHES, src=src, ckpt=ckpt, out=out,
        start_stream=_start, batch_filter=lambda i: F.col("b") == i,
    )


_register(
    "dedup_stream_hashes",
    _dedup_stream_hashes,
    """
SELECT DISTINCT md5(text) AS content_hash
FROM documents WHERE text IS NOT NULL
""",
)


# ★ the streaming COUNT sketch under the oracle gate — the anti-twin
# of hll_stream_users: CMS merges by ADDITION, which is NOT
# idempotent, so `cms_stream` must survive a crash-replay by per-batch
# partition overwrite (each partial lands in its own batch=<id> dir)
# plus an LSM-style base_upto=<k> compaction watermark, not by algebra.
# The drive injects one crash after the first drain AND crosses the
# in-stream compaction boundary (compact_every=2 absorbs the committed
# parts at batch 2), so the gate covers: the replay rewriting its
# partition with identical values, compaction shadowing absorbed parts
# the instant the new base lands, and the reader's max-upto rule.
# Oracle = the whole-corpus d×w counter table in SQL (the
# cms_term_counts shape, value = user_id as its decimal string); any
# double-count, lost batch, or mis-shadowed dir shifts a counter and
# fails the hash.
_CMS_STREAM_BATCHES = 3


def _cms_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{_art_dir(sf_dir)}/cms_stream"
    return _fresh_stream_artifact(
        spark, sf_dir, base, f"{base}/out",
        lambda: _build_cms_stream_artifact(spark, sf_dir, base),
        table="events",
    ).select("i", "bucket", "c")


def _build_cms_stream_artifact(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """POSIX-local oracle-artifact harness (same contract as the other
    stream builders; drives its own feed because the state dir mixes
    batch=<id> parts with base_upto=<k> bases — not one parquet
    layout)."""
    import shutil

    from comet_spark.streaming.ingest import cms_stream, cms_stream_counters

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    src, ckpt, state, out = (
        f"{base}/src", f"{base}/ckpt", f"{base}/state", f"{base}/out"
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("uid")
    )

    def _add_batches(idxs) -> None:
        for i in idxs:
            ev.filter(F.col("event_id") % _CMS_STREAM_BATCHES == i).repartition(
                1
            ).write.mode("append").parquet(src)

    def _drain() -> None:
        q = cms_stream(
            spark.readStream.schema("event_id bigint, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            "uid", state, d=CMS_D, w=CMS_W, checkpoint=ckpt,
            compact_every=2,  # batch 2 absorbs the committed parts 0,1
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("cms_stream artifact: stream did not drain")

    with _scoped_shuffle_partitions(spark):
        _add_batches(range(2))
        _drain()
        marker = f"{ckpt}/commits/1"
        _lose_latest_commit(ckpt)  # injected crash → batch 1 re-delivers
        _add_batches(range(2, _CMS_STREAM_BATCHES))
        _drain()
    # non-vacuity 1: the deleted marker re-created = batch 1 re-ran (its
    # partition overwrite must not have added its counts twice)
    if not os.path.exists(marker):
        raise RuntimeError(
            "cms_stream artifact: commit 1 was not re-created — the "
            "injected crash did not engage"
        )
    # non-vacuity 2: the in-stream compaction actually ran and shadowed
    # the absorbed parts (base_upto=1 present, batch=0/1 dirs gone)
    names = {n for n in os.listdir(state)}
    if "base_upto=1" not in names or {"batch=0", "batch=1"} & names:
        raise RuntimeError(
            f"cms_stream artifact: compaction state unexpected: {sorted(names)}"
        )
    cms_stream_counters(spark, state).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)


def _sql_cms_stream() -> str:
    """Generated oracle: the whole-corpus d×w CMS counter table (the
    cms_term_counts register shape, value = user_id::VARCHAR)."""
    return f"""
WITH {_sql_cms_coeffs()},
h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
      FROM events)
SELECT i, ((a * h + b) % 2147483647) % {CMS_W} AS bucket, count(*) AS c
FROM h CROSS JOIN co
GROUP BY 1, 2
"""


_register("cms_stream_counts", _cms_stream_counts, _sql_cms_stream())


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(
        _docs_par(spark, sf_dir), n=NGRAM_N, n_hashes=N_HASHES,
        sets_df=_doc_shingle_sets(spark, sf_dir),
    )
    return sig.select(F.col("id").alias("doc_id"), "i", "mh")


_register(
    "minhash_signatures",
    _minhash_sigs,
    f"""
WITH {_SQL_SHINGLES},
h AS (SELECT id, (('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647) AS h FROM sh),
{_sql_minhash_coeffs()}
SELECT id AS doc_id, i, min((a * h + b) % 2147483647) AS mh
FROM h CROSS JOIN co GROUP BY id, i
""",
)


_SQL_SIMHASH = f"""
tok AS (SELECT doc_id AS id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents),
tf AS (SELECT id, term, count(*) AS tf
       FROM (SELECT id, unnest(toks) AS term FROM tok) GROUP BY id, term),
th AS (SELECT id, tf, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
pb AS (SELECT id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN tf ELSE -tf END) AS w
       FROM th, range(60) t(b) GROUP BY id, b),
fp AS (SELECT id, CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       FROM pb GROUP BY id)
"""


# simhash fingerprint table memoized per (session, corpus): the
# fingerprints query and the banded near-dup pair join share one cached
# 60-bit table instead of re-running the 60-weight aggregation
_SIMHASH_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import simhash_fingerprints

    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _SIMHASH_CACHE:
        _evict_superseded(
            _SIMHASH_CACHE, key, unpersist=lambda df: df.unpersist()
        )
        _SIMHASH_CACHE[key] = simhash_fingerprints(
            _docs_tok(spark, sf_dir), tokens_col="__toks"
        ).cache()
    return _SIMHASH_CACHE[key]


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _simhash_table(spark, sf_dir)
    return fp.select(F.col("id").alias("doc_id"), "simhash")


_register(
    "simhash_fingerprints",
    _simhash_fp,
    f"WITH {_SQL_SIMHASH} SELECT id AS doc_id, simhash FROM fp",
)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.dedup import simhash_neardup_pairs

    # r14 negative result: _fanout-ing the ~1-partition cached fp table
    # before the banded self-join was measured SLOWER (0.44 -> 0.67 s
    # isolated) — the pair stream is not the bottleneck at this SF and
    # the extra exchange is a pure added wave; left on the cached layout
    return simhash_neardup_pairs(
        _t(spark, sf_dir, "documents"),
        max_hamming=SIMHASH_MAX_HAMMING,
        fingerprints=_simhash_table(spark, sf_dir),
    )


_register(
    "simhash_neardup_pairs",
    _simhash_pairs,
    f"""
WITH {_SQL_SIMHASH}
SELECT a.id AS a_id, b.id AS b_id, bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
""",
)


# --- winnowing document fingerprints (MOSS-style) ----------------------------

WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # gram-hashes per winnowing window
WINNOW_MAX_DF = 20
WINNOW_MIN_SHARED = 3

_SQL_WINNOW = f"""
wt AS (SELECT doc_id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents),
wg AS (SELECT doc_id,
         list_transform(range(1, len(toks) - {WINNOW_K} + 2),
           i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {WINNOW_K} - 1), ' ')), 1, 8))::BIGINT) AS hashes
       FROM wt WHERE len(toks) >= {WINNOW_K + WINNOW_W - 1}),
wf AS (SELECT doc_id AS id,
         unnest(list_distinct(list_transform(range(1, len(hashes) - {WINNOW_W} + 2),
           i -> list_min(list_slice(hashes, i, i + {WINNOW_W} - 1))))) AS fp
       FROM wg)
"""


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint extraction (fingerprint.py): per-row native
    array algebra, no shuffle until this per-doc rollup."""
    from comet_spark.operators.fingerprint import winnow_fingerprints

    fps = winnow_fingerprints(
        _docs_tok(spark, sf_dir), k=WINNOW_K, w=WINNOW_W, tokens_col="__toks"
    )
    return fps.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_fps"),
        F.min("fp").alias("fp_min"),
        F.sum("fp").alias("fp_sum"),
    )


_register(
    "winnow_fingerprints",
    _winnow_fps,
    f"""
WITH {_SQL_WINNOW}
SELECT id AS doc_id, count(*) AS n_fps, min(fp) AS fp_min, sum(fp)::BIGINT AS fp_sum
FROM wf GROUP BY id
""",
)


# the winnowing near-dup pair graph feeds three queries (pairs, clusters,
# funnel) — memoized per (session, corpus) like the BM25/simhash tables
_WINNOW_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _winnow_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.fingerprint import winnow_neardup_pairs

    key = (_skey(spark), sf_dir)
    if key not in _WINNOW_PAIRS_CACHE:
        _WINNOW_PAIRS_CACHE[key] = winnow_neardup_pairs(
            _docs_tok(spark, sf_dir),
            k=WINNOW_K, w=WINNOW_W, max_df=WINNOW_MAX_DF,
            min_shared=WINNOW_MIN_SHARED, tokens_col="__toks",
        ).cache()
    return _WINNOW_PAIRS_CACHE[key]


def _winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs: equi-join on shared fingerprints (bucketed
    like minhash-LSH, never cartesian); max_df drops boilerplate grams and
    bounds bucket skew."""
    return _winnow_pairs_memo(spark, sf_dir)


_register(
    "winnow_neardup_pairs",
    _winnow_pairs,
    f"""
WITH {_SQL_WINNOW},
wkeep AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
wfk AS (SELECT wf.id, wf.fp FROM wf JOIN wkeep USING (fp)),
wsz AS (SELECT id, count(*) AS n_fps FROM wfk GROUP BY id),
wp AS (SELECT a.id AS a_id, b.id AS b_id, count(*) AS n_shared
       FROM wfk a JOIN wfk b ON a.fp = b.fp AND a.id < b.id
       GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT a_id, b_id, n_shared,
       ROUND(n_shared / least(sa.n_fps, sb.n_fps), 6) AS overlap
FROM wp JOIN wsz sa ON wp.a_id = sa.id JOIN wsz sb ON wp.b_id = sb.id
""",
)


# --- dedup clusters: connected components over near-dup pairs ----------------


_CLUSTERS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters -> keep decision (graph.py:connected_components):
    min-label propagation over the winnowing near-dup graph, then
    longest-text-wins (tie: lowest id) per cluster. Without this step a
    chain A~B~C would be double-dropped by pairwise deletion. Memoized —
    the funnel query reuses the clustering instead of re-iterating."""
    from comet_spark.operators.graph import connected_components
    from pyspark.sql import Window

    key = (_skey(spark), sf_dir)
    if key in _CLUSTERS_CACHE:
        return _CLUSTERS_CACHE[key]

    docs = _t(spark, sf_dir, "documents")
    pairs = _winnow_pairs_memo(spark, sf_dir)
    comp = connected_components(pairs)
    ranked = comp.join(docs.select(F.col("doc_id").alias("id"), "n_chars"), "id").select(
        "id",
        "component",
        F.row_number()
        .over(Window.partitionBy("component").orderBy(F.desc("n_chars"), "id"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("component")).alias("cluster_size"),
    )
    out = ranked.select(
        F.col("id").alias("doc_id"),
        "component",
        "cluster_size",
        (F.col("rk") == 1).alias("keep"),
    ).cache()
    _CLUSTERS_CACHE[key] = out
    return out


_register(
    "dedup_clusters",
    _dedup_clusters,
    f"""
WITH RECURSIVE {_SQL_WINNOW},
wkeep AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
wfk AS (SELECT wf.id, wf.fp FROM wf JOIN wkeep USING (fp)),
wp AS (SELECT a.id AS a_id, b.id AS b_id FROM wfk a JOIN wfk b
       ON a.fp = b.fp AND a.id < b.id GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}),
edges AS (SELECT a_id AS a, b_id AS b FROM wp UNION SELECT b_id, a_id FROM wp),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
ranked AS (SELECT c.id, c.component, d.n_chars,
             row_number() OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, c.id) AS rk,
             count(*) OVER (PARTITION BY c.component) AS cluster_size
           FROM comp c JOIN documents d ON c.id = d.doc_id)
SELECT id AS doc_id, component, cluster_size, rk = 1 AS keep FROM ranked
""",
)


# --- Gopher-style quality-rule filter ----------------------------------------


def _gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auditable quality filter (quality.py:gopher_rules): per-doc metrics,
    each rule's verdict, AND'd keep decision. mean-length rule is
    degenerate on this corpus (all docs pass) — kept for rule-family
    fidelity; wordcount/stopword/repetition rules all discriminate."""
    from comet_spark.operators.quality import gopher_rules

    out = gopher_rules(_docs_tok(spark, sf_dir), tokens_col="__toks")
    return out.withColumnRenamed("id", "doc_id")


_register(
    "gopher_rules",
    _gopher_rules,
    f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents
           WHERE len({_SQL_TOKENIZE.format(col='text')}) > 0),
mode AS (SELECT doc_id, max(c) AS top_c FROM
           (SELECT doc_id, term, count(*) AS c FROM
              (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term)
         GROUP BY doc_id),
s AS (SELECT t.doc_id,
        len(toks)::BIGINT AS n_tokens,
        ROUND(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 6) AS mean_token_len,
        len(list_filter(list_distinct(toks), x -> list_contains({_SQL_STOPWORDS}, x)))::BIGINT AS n_stopwords,
        ROUND(mode.top_c::DOUBLE / len(toks), 6) AS top_token_frac
      FROM t JOIN mode ON t.doc_id = mode.doc_id)
SELECT doc_id, n_tokens, mean_token_len, n_stopwords, top_token_frac,
       n_tokens BETWEEN 30 AND 10000 AS ok_words,
       mean_token_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
       n_stopwords >= 2 AS ok_stopwords,
       top_token_frac <= 0.125 AS ok_repetition,
       (n_tokens BETWEEN 30 AND 10000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
         AND n_stopwords >= 2 AND top_token_frac <= 0.125 AS keep
FROM s
""",
)


_SURPRISAL_TF_CACHE: dict[tuple[str, str, str], tuple] = {}


def _token_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM proxy quality scoring (quality.py:token_surprisal):
    per-doc mean -ln(corpus unigram probability) — the codec-free
    stand-in for perplexity filtering. The corpus unigram table and its
    exact token total are per-corpus statistics — cached per (session,
    corpus) like the TF-IDF weights (r14), so repeat scoring pays only
    the probe join + per-doc mean."""
    from comet_spark.operators.quality import token_surprisal

    docs = _docs_tok(spark, sf_dir)
    key = _live_cache_key(spark, sf_dir, "documents")
    if key not in _SURPRISAL_TF_CACHE:
        _evict_superseded(
            _SURPRISAL_TF_CACHE, key, lambda t: t[0].unpersist()
        )
        tf = (
            docs.select(F.explode("__toks").alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("ctf"))
            .cache()
        )
        # exact integer (≤ 2⁵³) — the same double the 1-row cross join
        # delivered (sum of longs, cast once)
        total = float(tf.agg(F.sum("ctf")).first()[0])
        _SURPRISAL_TF_CACHE[key] = (tf, total)
    tf, total = _SURPRISAL_TF_CACHE[key]
    out = token_surprisal(docs, tokens_col="__toks", tf_df=tf, total=total)
    return out.select(F.col("id").alias("doc_id"), "n_tokens", "surprisal")


_register(
    "token_surprisal_scores",
    _token_surprisal,
    f"""
WITH tok AS (SELECT doc_id AS id, unnest({_SQL_TOKENIZE.format(col='text')}) AS term
             FROM documents),
tf AS (SELECT term, count(*) AS ctf FROM tok GROUP BY term),
tot AS (SELECT sum(ctf)::DOUBLE AS total FROM tf),
s AS (SELECT tok.id, -ln(tf.ctf / tot.total) AS s
      FROM tok JOIN tf USING (term) CROSS JOIN tot)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(avg(s), 6) AS surprisal
FROM s GROUP BY id
""",
)


def _repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition family beyond top-1-token (quality.py): top
    bigram/trigram fraction + duplicate-5gram fraction, each n-level
    computed by an in-row sorted-run fold (zero shuffles)."""
    from comet_spark.operators.quality import repetition_metrics

    # tokens come pre-materialized from the session cache (fanned out to
    # all cores), so the per-row gram folds start from cached arrays
    out = repetition_metrics(_docs_tok(spark, sf_dir), tokens_col="__toks")
    # r14: no terminal orderBy — a global sort's RangePartitioning
    # exchange runs a SAMPLING job over its child first, and this
    # query's child is the ENTIRE exchange-free gram-fold pipeline, so
    # the sort re-executed the whole computation (~2x; the r13 verdict's
    # "in-suite vs isolated" anomaly). Row ORDER is not part of the
    # contract: the driver hash is order-insensitive (unordered outputs
    # like asof_latest_order/range_join pass it against DuckDB's
    # engine-internal order), and the oracle's ORDER BY exists only for
    # its own determinism.
    return out.select(
        F.col("id").alias("doc_id"), "top_bigram_frac", "top_trigram_frac",
        "dup_5gram_frac",
    )


def _sql_grams(n: int) -> str:
    return (
        f"SELECT id, {n} AS n, unnest(list_transform("
        f"range(1, greatest(len(toks) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(toks[i:i + {n - 1}], ' '))) AS gram FROM tok"
    )


_register(
    "repetition_metrics",
    _repetition_metrics,
    f"""
WITH tok AS (SELECT doc_id AS id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents
             WHERE len({_SQL_TOKENIZE.format(col='text')}) > 0),
g AS ({_sql_grams(2)} UNION ALL {_sql_grams(3)} UNION ALL {_sql_grams(5)}),
c AS (SELECT id, n, gram, count(*) AS c FROM g GROUP BY id, n, gram),
a AS (SELECT id, n, max(c) AS top_c, sum(c) AS tot, count(*) AS dis
      FROM c GROUP BY id, n)
SELECT id AS doc_id,
       ROUND(max(CASE WHEN n = 2 THEN top_c::DOUBLE / tot END), 6) AS top_bigram_frac,
       ROUND(max(CASE WHEN n = 3 THEN top_c::DOUBLE / tot END), 6) AS top_trigram_frac,
       ROUND(max(CASE WHEN n = 5 THEN (tot - dis)::DOUBLE / tot END), 6) AS dup_5gram_frac
FROM a GROUP BY id
ORDER BY doc_id
""",
)


# --- end-to-end training-data funnel -----------------------------------------

FUNNEL_SALT = "s2"
FUNNEL_RATE = 50  # percent kept at the sampling stage


def _pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE declarative plan: raw ->
    Gopher quality filter -> cluster-dedup (drop non-canonical members) ->
    deterministic 50% sample. Emits the per-stage funnel (doc and token
    counts) — the audit table a 100 TB curation run reports. Every stage
    is the already-oracled operator (quality.py, fingerprint.py+graph.py,
    sampling.py) composed lazily, so Catalyst optimizes across stage
    boundaries instead of materializing each step."""
    from comet_spark.operators.quality import gopher_rules
    from comet_spark.operators.sampling import hash_bucket

    docs = _docs_tok(spark, sf_dir)
    sized = docs.select("doc_id", F.size("__toks").cast("bigint").alias("n_toks"))

    q_keep = (
        gopher_rules(docs, tokens_col="__toks")
        .filter("keep")
        .select(F.col("id").alias("doc_id"))
    )
    drop = _dedup_clusters(spark, sf_dir).filter(~F.col("keep")).select("doc_id")

    # ONE corpus pass: tag each doc with its stage-membership flags (the
    # stages are nested subsets), aggregate all eight measures in a single
    # job, then unpack the 1-row result into the 4-row funnel — instead of
    # four separate scan+join+agg jobs over the same tokenized corpus
    flagged = (
        sized.join(q_keep.withColumn("__q", F.lit(True)), "doc_id", "left")
        .join(drop.withColumn("__x", F.lit(True)), "doc_id", "left")
    )
    q = F.coalesce(F.col("__q"), F.lit(False))
    d = q & ~F.coalesce(F.col("__x"), F.lit(False))
    s = d & (hash_bucket(F.col("doc_id"), salt=FUNNEL_SALT, denom=100) < FUNNEL_RATE)

    def measures(flag, tag: str):
        # token sum deliberately has NO otherwise(0): an empty stage must
        # yield NULL, matching the oracle's sum() over an empty join
        return [
            F.sum(F.when(flag, 1).otherwise(0)).cast("bigint").alias(f"nd_{tag}"),
            F.sum(F.when(flag, F.col("n_toks"))).alias(f"nt_{tag}"),
        ]

    one = flagged.agg(
        *measures(F.lit(True), "raw"), *measures(q, "q"),
        *measures(d, "d"), *measures(s, "s"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("stage"),
                F.lit(order).cast("bigint").alias("stage_order"),
                F.col(f"nd_{tag}").alias("n_docs"),
                F.col(f"nt_{tag}").alias("total_tokens"),
            )
            for name, order, tag in [
                ("raw", 1, "raw"), ("quality", 2, "q"),
                ("dedup", 3, "d"), ("sampled", 4, "s"),
            ]
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


_register(
    "pipeline_funnel",
    _pipeline_funnel,
    f"""
WITH RECURSIVE {_SQL_WINNOW},
wkeep AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
wfk AS (SELECT wf.id, wf.fp FROM wf JOIN wkeep USING (fp)),
wp AS (SELECT a.id AS a_id, b.id AS b_id FROM wfk a JOIN wfk b
       ON a.fp = b.fp AND a.id < b.id GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}),
edges AS (SELECT a_id AS a, b_id AS b FROM wp UNION SELECT b_id, a_id FROM wp),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
clranked AS (SELECT c.id, row_number() OVER (PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.id) AS rk
             FROM comp c JOIN documents d ON c.id = d.doc_id),
cldrop AS (SELECT id FROM clranked WHERE rk > 1),
sized AS (SELECT doc_id, len({_SQL_TOKENIZE.format(col='text')})::BIGINT AS n_toks FROM documents),
toks2 AS (SELECT doc_id, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents
          WHERE len({_SQL_TOKENIZE.format(col='text')}) > 0),
mode2 AS (SELECT doc_id, max(c) AS top_c FROM
            (SELECT doc_id, term, count(*) AS c FROM
               (SELECT doc_id, unnest(toks) AS term FROM toks2) GROUP BY doc_id, term)
          GROUP BY doc_id),
qm AS (SELECT t.doc_id, len(toks)::BIGINT AS n,
         ROUND(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 6) AS mlen,
         len(list_filter(list_distinct(toks), x -> list_contains({_SQL_STOPWORDS}, x)))::BIGINT AS nstop,
         ROUND(mode2.top_c::DOUBLE / len(toks), 6) AS topfrac
       FROM toks2 t JOIN mode2 ON t.doc_id = mode2.doc_id),
qkeep AS (SELECT doc_id FROM qm
          WHERE n BETWEEN 30 AND 10000 AND mlen BETWEEN 3.0 AND 10.0
            AND nstop >= 2 AND topfrac <= 0.125),
dkeep AS (SELECT doc_id FROM qkeep WHERE doc_id NOT IN (SELECT id FROM cldrop)),
skeep AS (SELECT doc_id FROM dkeep
          WHERE ('0x' || substr(md5('{FUNNEL_SALT}' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < {FUNNEL_RATE})
SELECT 'raw' AS stage, 1::BIGINT AS stage_order, count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens FROM sized
UNION ALL
SELECT 'quality', 2, count(*), sum(n_toks)::BIGINT FROM sized JOIN qkeep USING (doc_id)
UNION ALL
SELECT 'dedup', 3, count(*), sum(n_toks)::BIGINT FROM sized JOIN dkeep USING (doc_id)
UNION ALL
SELECT 'sampled', 4, count(*), sum(n_toks)::BIGINT FROM sized JOIN skeep USING (doc_id)
""",
)


# --- BPE-ish token counting, hash sampling, sequence packing -----------------

_SQL_BPE = r"regexp_extract_all(lower({col}), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')"


def _bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per language. On this corpus
    (pure space-separated lowercase words) the two tokenizers agree by
    construction — the non-degenerate segmentation case is exercised by
    ``bpe_name_tokens`` and the unit tests."""
    from comet_spark.functions.text import bpe_pretokenize

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("n_ws"),
        F.size(bpe_pretokenize("text")).alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.round(F.avg("n_bpe"), 6).alias("avg_bpe_per_doc"),
    )


_register(
    "bpe_token_stats",
    _bpe_token_stats,
    f"""
WITH t AS (SELECT lang,
             len(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS n_ws,
             len({_SQL_BPE.format(col='text')}) AS n_bpe
           FROM documents)
SELECT lang, count(*) AS n_docs, sum(n_ws)::BIGINT AS ws_tokens,
       sum(n_bpe)::BIGINT AS bpe_tokens, ROUND(avg(n_bpe), 6) AS avg_bpe_per_doc
FROM t GROUP BY lang
""",
)


def _bpe_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-degenerate BPE-ish segmentation: 'Customer#000000001' splits
    into a letter run, a punct run, and a digit run. Top tokens by
    frequency (total order: count desc, token asc)."""
    from comet_spark.functions.text import bpe_pretokenize

    cust = _t(spark, sf_dir, "customer")
    toks = cust.select(F.explode(bpe_pretokenize("c_name")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(5)
    )


_register(
    "bpe_name_tokens",
    _bpe_name_tokens,
    f"""
WITH t AS (SELECT unnest({_SQL_BPE.format(col='c_name')}) AS token FROM customer)
SELECT token, count(*) AS n FROM t GROUP BY token ORDER BY n DESC, token LIMIT 5
""",
)


# --- PII redaction (training-data hygiene) -----------------------------------

from comet_spark.operators.redact import PII_PATTERNS as _SQL_PII  # one source


def _pii_text_col() -> F.Column:
    """Deterministic PII-bearing text derived from customer fields (the
    shipped customer table carries no free-text/phone columns, so the
    fixture synthesizes identical strings in BOTH engines — the operator
    under test is the redaction, not the corpus): roughly a third of
    rows get a phone, a quarter an email, a fifth an IPv4."""
    key = F.col("c_custkey")
    phone = F.when(
        key % 3 == 0,
        F.concat(
            F.lit(" call +1 555-"),
            F.lpad((key % 10000).cast("string"), 4, "0"),
            F.lit("-1234"),
        ),
    ).otherwise(F.lit(""))
    email = F.when(
        key % 4 == 0,
        F.concat(F.lit(" mail user"), key.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        key % 5 == 0,
        F.concat(
            F.lit(" from 10.0."),
            F.col("c_nationkey").cast("string"),
            F.lit("."),
            (key % 250).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("c_name"), phone, email, ip)


_SQL_PII_TEXT = (
    "c_name"
    " || CASE WHEN c_custkey % 3 = 0 THEN ' call +1 555-'"
    " || lpad((c_custkey % 10000)::VARCHAR, 4, '0') || '-1234' ELSE '' END"
    " || CASE WHEN c_custkey % 4 = 0 THEN ' mail user'"
    " || c_custkey::VARCHAR || '@example.com' ELSE '' END"
    " || CASE WHEN c_custkey % 5 = 0 THEN ' from 10.0.'"
    " || c_nationkey::VARCHAR || '.' || (c_custkey % 250)::VARCHAR ELSE '' END"
)


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based PII redaction (operators/redact.py): per-row
    placeholder substitution + auditable match counts, all native
    regexp projection (zero shuffles, codegen'd) — the standard
    pretraining hygiene step."""
    from comet_spark.operators.redact import redact_pii

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", _pii_text_col().alias("text")
    )
    out = redact_pii(cust, text_col="text", out_col="redacted")
    return out.select(
        "c_custkey", "n_email", "n_phone", "n_ipv4",
        F.col("redacted").alias("redacted_text"),
    )


def _sql_pii_stages() -> tuple[str, str]:
    """Sequential count-then-replace CTE chain — the SQL twin of
    redact_pii's contract (each category counts on the text as redacted
    by the previous categories): c0(text=t0) → c1(n_ipv4, t1) →
    c2(n_email, t2) → c3(n_phone, t3)."""
    stages = []
    prev_t = "text"
    for i, (cat, (pat, token)) in enumerate(_SQL_PII.items(), start=1):
        stages.append(
            f"c{i} AS (SELECT * EXCLUDE ({prev_t}), "
            f"len(regexp_extract_all({prev_t}, '{pat}'))::BIGINT AS n_{cat}, "
            f"regexp_replace({prev_t}, '{pat}', '{token}', 'g') AS t{i} "
            f"FROM c{i - 1})"
        )
        prev_t = f"t{i}"
    return ",\n".join(stages), prev_t


_SQL_PII_CHAIN, _SQL_PII_FINAL = _sql_pii_stages()


_register(
    "pii_redaction",
    _pii_redact,
    f"""
WITH c0 AS (SELECT c_custkey, {_SQL_PII_TEXT} AS text FROM customer),
{_SQL_PII_CHAIN}
SELECT c_custkey, n_email, n_phone, n_ipv4, {_SQL_PII_FINAL} AS redacted_text
FROM c{len(_SQL_PII)}
""",
)


def _pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level redaction audit per market segment: doc counts,
    per-category totals, fraction of rows carrying any PII — the report
    a 100 TB redaction run ships per source before training."""
    from comet_spark.operators.redact import redaction_stats

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment"), _pii_text_col().alias("text")
    )
    return redaction_stats(cust, group_col="c_mktsegment")


_register(
    "pii_redaction_stats",
    _pii_stats,
    f"""
WITH c0 AS (SELECT c_mktsegment, {_SQL_PII_TEXT} AS text FROM customer),
{_SQL_PII_CHAIN}
SELECT c_mktsegment, count(*) AS n_docs,
       sum(n_email)::BIGINT AS total_email, sum(n_phone)::BIGINT AS total_phone,
       sum(n_ipv4)::BIGINT AS total_ipv4,
       ROUND(sum(CASE WHEN n_email > 0 OR n_phone > 0 OR n_ipv4 > 0
                      THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS frac_docs_with_pii
FROM c{len(_SQL_PII)} GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)


SAMPLE_SALT = "s1"
SAMPLE_RATES = {"en": 10, "zh": 60}  # per-lang rates out of 100
SAMPLE_DEFAULT_RATE = 35


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (sampling.py:hash_sample): keep a
    per-language fraction by hashed doc_id — reproducible across engines
    and re-runs, pure per-row predicate (full pushdown, no shuffle)."""
    from comet_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    kept = hash_sample(
        docs,
        id_col="doc_id",
        rates=SAMPLE_RATES,
        stratum_col="lang",
        salt=SAMPLE_SALT,
        default_rate=SAMPLE_DEFAULT_RATE,
    )
    return kept.select("doc_id", "lang", "bucket")


_register(
    "stratified_sample",
    _stratified_sample,
    f"""
WITH t AS (SELECT doc_id, lang,
             ('0x' || substr(md5('{SAMPLE_SALT}' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
           FROM documents)
SELECT doc_id, lang, bucket FROM t
WHERE bucket < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 60 ELSE {SAMPLE_DEFAULT_RATE} END
""",
)


MIX_TEMP = 0.5  # n^0.5 = sqrt: correctly-rounded IEEE in every engine
MIX_DENOM = 1_000_000
MIX_SALT = "mix1"


def _mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture resampling (sampling.py:
    mixture_rates — the mBERT/XLM-R p_s ∝ n_s^τ smoothing): per-lang
    integer keep rates computed driver-side from one groupBy count,
    applied as the same deterministic md5-bucket predicate as
    stratified_sample (zero shuffles, full pushdown). The computed
    rates are exported as an artifact so the oracle replays the exact
    draw (by construction — the rate MATH is pinned by pytest)."""
    from comet_spark.operators.sampling import hash_sample, mixture_rates

    docs = _t(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rates = mixture_rates(
        counts, temperature=MIX_TEMP,
        target_total=sum(counts.values()) // 2, denom=MIX_DENOM,
    )
    key = (_skey(spark), sf_dir, "mixture_rates")
    if key not in _PROBE_WRITTEN:
        _write_rows(
            spark, f"{_art_dir(sf_dir)}/mixture/rates.parquet",
            [(s, int(r)) for s, r in sorted(rates.items())],
            "lang string, rate bigint",
        )
        _PROBE_WRITTEN.add(key)
    kept = hash_sample(
        docs, id_col="doc_id", rates=rates, stratum_col="lang",
        salt=MIX_SALT, denom=MIX_DENOM,
    )
    return kept.select("doc_id", "lang", "bucket")


_register(
    "mixture_sample_lang",
    _mixture_sample,
    f"""
WITH r AS (SELECT lang, rate FROM read_parquet('{_ART01}/mixture/rates.parquet/*.parquet')),
t AS (SELECT doc_id, d.lang,
             ('0x' || substr(md5('{MIX_SALT}' || doc_id::VARCHAR), 1, 8))::BIGINT % {MIX_DENOM} AS bucket,
             rate
      FROM documents d JOIN r ON r.lang = d.lang)
SELECT doc_id, lang, bucket FROM t WHERE bucket < rate
""",
)


QUALITY_TOP_FRAC = 0.2


def _quality_top_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quantile selection (sampling.py:top_fraction_per_group —
    the FineWeb-Edu 'keep the top X% by score per language' step): rank
    docs per lang by uniq-token ratio (total order via the doc_id
    tiebreaker), keep rank ≤ ceil(frac·group size). One shuffle on the
    group key; reads the tokenize-once projection."""
    from comet_spark.operators.sampling import top_fraction_per_group

    docs = _docs_tok(spark, sf_dir)
    toks = F.col("__toks")
    n = F.size(toks).cast("bigint")
    n_uniq = F.size(F.array_distinct(toks)).cast("bigint")
    scored = docs.select(
        "doc_id", "lang", n.alias("n_tokens"),
        F.round(n_uniq.cast("double") / n, 6).alias("uniq_ratio"),
    ).filter(F.col("n_tokens") > 0)
    out = top_fraction_per_group(
        scored, group_cols=["lang"],
        order_cols=[F.col("uniq_ratio").desc(), F.col("doc_id").asc()],
        frac=QUALITY_TOP_FRAC,
    )
    return out.select("doc_id", "lang", "uniq_ratio")


_register(
    "quality_top_frac",
    _quality_top_frac,
    f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents),
s AS (SELECT doc_id, lang, len(toks)::BIGINT AS n_tokens,
             ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS uniq_ratio
      FROM t WHERE len(toks) > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY uniq_ratio DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n FROM s)
SELECT doc_id, lang, uniq_ratio FROM r WHERE rn <= ceil({QUALITY_TOP_FRAC} * n)
""",
)


PACK_BUDGET = 256


def _seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (sampling.py:pack_sequences):
    per-shard running token count -> token-budget bins. Windows run per
    shard (source), so shards pack independently in parallel — no global
    ordering bottleneck at 100 TB."""
    from comet_spark.operators.sampling import pack_sequences

    return pack_sequences(
        _docs_tok(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        shard_col="source",
        budget=PACK_BUDGET,
        tokens_col="__toks",
    )


_register(
    "seq_packing",
    _seq_packing,
    f"""
WITH t AS (SELECT source AS shard, doc_id AS id,
             len({_SQL_TOKENIZE.format(col='text')}) AS n_toks FROM documents),
b AS (SELECT shard, id, n_toks,
        CAST(floor((sum(n_toks) OVER (PARTITION BY shard ORDER BY id
               ROWS UNBOUNDED PRECEDING) - n_toks) / {PACK_BUDGET}) AS BIGINT) AS bin
      FROM t)
SELECT shard, bin, count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens,
       ROUND(sum(n_toks) / {PACK_BUDGET}, 6) AS fill
FROM b GROUP BY shard, bin
""",
)


# --- language-ID heuristic + JSON extraction ---------------------------------

_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "que", "es", "y"],
    "fr": ["le", "les", "des", "est", "et", "une"],
}


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID. On this synthetic corpus every language
    shares one English-ish vocabulary, so the operator (honestly) predicts
    'en' everywhere — the pipeline shape is what's under test."""
    # tokens materialized once (session cache) — the hit counts and the
    # when-chain expand `toks` a dozen times (see _text_quality note)
    docs = _docs_tok(spark, sf_dir)
    toks = F.col("__toks")
    hits = {}
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        hits[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    pred = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]),
            F.lit("en"),
        )
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), F.lit("de"))
        .when(hits["es"] >= hits["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


def _sql_lang_hits(lang: str) -> str:
    markers = "[" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(toks, t -> list_contains({markers}, t)))"


_register(
    "lang_id",
    _lang_id,
    f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKENIZE.format(col='text')} AS toks FROM documents),
hits AS (SELECT doc_id, lang,
                {_sql_lang_hits('en')} AS en, {_sql_lang_hits('de')} AS de,
                {_sql_lang_hits('es')} AS es, {_sql_lang_hits('fr')} AS fr
         FROM t),
p AS (SELECT doc_id, lang,
             CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                  WHEN de >= es AND de >= fr THEN 'de'
                  WHEN es >= fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM hits)
SELECT doc_id, pred_lang, pred_lang = lang AS is_correct FROM p
""",
)


def _events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


_register(
    "events_json",
    _events_json,
    """
SELECT event_type, count(*) AS n_events,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       ROUND(avg(json_extract_string(props, '$.k')::BIGINT), 6) AS avg_k
FROM events GROUP BY event_type
""",
)


# ---------------------------------------------------------------------------
# events — time-bucketed aggregation + sessionization (J-family analogs)
# ---------------------------------------------------------------------------

def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")  # ts is int64 nanos
    hour = (F.col("ts") / F.lit(3_600_000_000_000)).cast("bigint")
    return ev.groupBy(hour.alias("hour_bucket"), "event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value")
    )


_register(
    "events_hourly",
    _events_hourly,
    """
SELECT CAST(floor(epoch_ns(ts) / 3600000000000) AS BIGINT) AS hour_bucket, event_type,
       count(*) AS n_events, ROUND(sum(value), 6) AS total_value
FROM events GROUP BY hour_bucket, event_type
""",
)


def _daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (absent from the reference, free in
    Spark — SURVEY §2.D): daily active users + events per user."""
    ev = _t(spark, sf_dir, "events")
    day = (F.col("ts") / F.lit(86_400_000_000_000)).cast("bigint")
    return ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count("*").alias("n_events"),
        F.round(F.count("*").cast("double") / F.countDistinct("user_id"), 6).alias(
            "events_per_user"
        ),
    )


_register(
    "daily_active_users",
    _daily_active_users,
    """
SELECT CAST(floor(epoch_ns(ts) / 86400000000000) AS BIGINT) AS day,
       count(DISTINCT user_id) AS dau, count(*) AS n_events,
       ROUND(count(*)::DOUBLE / count(DISTINCT user_id), 6) AS events_per_user
FROM events GROUP BY day
""",
)


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): the batch twin of a streaming
    session window; per user emits session count and event count."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


_register(
    "events_sessionize",
    _events_sessionize,
    """
WITH g AS (SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000::BIGINT
                       THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM g)
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
""",
)


# as-of (point-in-time) join: latest order per customer at or before each
# event, on day granularity (calendar-pure on both engines)
def _asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("ts") / F.lit(86_400_000_000_000)).cast("bigint").alias("event_day"),
    )
    # r14: no (custkey, day) pre-aggregation pass — duplicate orders on
    # the same day are deduped by the as-of window's own sort via the
    # o_orderkey tiebreak (carried row = max o_orderkey, exactly the
    # value the removed groupBy/max computed). Plan: Exchange 2 → 1
    # (the old pre-agg shuffled nearly-unique (custkey, day) keys, so
    # its map-side combine saved nothing — guide §2.4).
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("bigint").alias("order_day"),
        "o_orderkey",
    )
    joined = asof_join(
        ev.withColumnRenamed("user_id", "k"),
        orders.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="event_day",
        right_time="order_day",
        right_cols=["o_orderkey"],
        right_tiebreak=["o_orderkey"],
    )
    return joined.select(
        "event_id", F.col("k").alias("user_id"), "event_day", "o_orderkey"
    )


_register(
    "asof_latest_order",
    _asof_latest_order,
    """
WITH ev AS (SELECT event_id, user_id,
                   CAST(floor(epoch_ns(ts) / 86400000000000) AS BIGINT) AS event_day
            FROM events),
o AS (SELECT o_custkey, (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS order_day,
             max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, order_day)
SELECT ev.event_id, ev.user_id, ev.event_day, o.o_orderkey
FROM ev ASOF LEFT JOIN o ON ev.user_id = o.o_custkey AND ev.event_day >= o.order_day
""",
)


# range/interval join: events ⨝ "orders in the 7 days before the event" by
# the same user. Expressed as an EQUI-join: each order explodes into its 7
# active day-buckets, pre-aggregated per (custkey, day) — no inequality
# join (which Catalyst could only plan as a nested loop at scale).
RANGE_DAYS = 7


def _range_join_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an order placed on day d is "recent" for event days d..d+6; count
    # per event. The previous plan exploded ORDERS ×7 into 1.05M
    # day-bucket rows, aggregated them (a full-table shuffle with almost
    # no map-side combine — (custkey, day) keys are nearly unique), and
    # joined the result — a 5-wave serial chain. Orders project to two
    # ints, so join them RAW and explode the EVENT side's 7 probe days
    # in-map instead: each probe day matched against (custkey,
    # order_day) directly, count(matches) per event. The event fanout
    # hash-partitions on event_id so the per-event count reuses that
    # exchange — the ×7 blowup collapses 7:1 in the map-side combine
    # and never crosses the wire.
    ev = _fanout(
        spark, _t(spark, sf_dir, "events"), ("events", sf_dir), by=("event_id",)
    ).select(
        "event_id",
        "user_id",
        (F.col("ts") / F.lit(86_400_000_000_000)).cast("bigint").alias("event_day"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("bigint").alias("order_day"),
    )
    # explode_outer, not explode (ADVICE r13): a NULL ts yields a NULL
    # sequence, and plain explode would DROP the event entirely, whereas
    # the oracle's correlated count keeps it with n_recent_orders = 0.
    # The outer row's NULL day never matches an order, so count() still
    # lands on 0 — identical on non-null fixtures, correct on null ts.
    probe = ev.select(
        "event_id",
        "user_id",
        "event_day",
        F.explode_outer(
            F.sequence(F.col("event_day") - (RANGE_DAYS - 1), F.col("event_day"))
        ).alias("day"),
    )
    out = probe.join(
        orders,
        (probe["user_id"] == orders["o_custkey"]) & (probe["day"] == orders["order_day"]),
        "left",
    )
    # count(o_custkey) skips the null rows unmatched probe days produce,
    # so a no-order event counts 0 — same value coalesce(n, 0) gave
    return out.groupBy("event_id", "user_id", "event_day").agg(
        F.count("o_custkey").alias("n_recent_orders")
    )


_register(
    "range_join_recent_orders",
    _range_join_recent_orders,
    f"""
WITH ev AS (SELECT event_id, user_id,
                   CAST(floor(epoch_ns(ts) / 86400000000000) AS BIGINT) AS event_day
            FROM events),
o AS (SELECT o_custkey, (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS order_day FROM orders)
SELECT ev.event_id, ev.user_id, ev.event_day,
       (SELECT count(*) FROM o
        WHERE o.o_custkey = ev.user_id
          AND o.order_day BETWEEN ev.event_day - {RANGE_DAYS - 1} AND ev.event_day) AS n_recent_orders
FROM ev
""",
)


# exact percentiles (linear interpolation — Spark percentile() and DuckDB
# quantile_cont agree bit-for-bit after rounding)
def _event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


_register(
    "event_value_percentiles",
    _event_value_percentiles,
    """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
)


# ---------------------------------------------------------------------------
# multimodal columns (binary payload + typed metadata, multimodal.py):
# the stub media table derives from `documents` with pure Catalyst
# expressions, so DuckDB replays it independently; only the md5-chain
# feature extractor (Python hashlib over digest BYTES — DuckDB's md5 is
# VARCHAR-only) uses a by-construction artifact oracle
# ---------------------------------------------------------------------------

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.multimodal import attach_media_stub

    return attach_media_stub(_t(spark, sf_dir, "documents"), id_col="doc_id")


_SQL_MEDIA = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       (doc_id % 640 + 32)::INT AS width,
       (doc_id % 480 + 32)::INT AS height,
       16000 AS sample_rate,
       (doc_id % 300 + 1)::INT AS n_frames
FROM documents
"""


def _media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _media(spark, sf_dir)
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("width"), 6).alias("avg_width"),
            F.round(F.avg("height"), 6).alias("avg_height"),
            F.sum("n_frames").alias("total_frames"),
        )
    )


_register(
    "media_inventory",
    _media_inventory,
    f"""
WITH m AS ({_SQL_MEDIA})
SELECT media_type, count(*) AS n, ROUND(avg(width), 6) AS avg_width,
       ROUND(avg(height), 6) AS avg_height, CAST(sum(n_frames) AS BIGINT) AS total_frames
FROM m GROUP BY media_type
""",
)


def _video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frame_sample's mapInPandas expansion (1 row per sampled frame),
    checked against an independent generate_series oracle."""
    from comet_spark.multimodal import frame_sample

    return frame_sample(_media(spark, sf_dir), every_n=30).select(
        "media_id", "frame_idx"
    )


_register(
    "video_frame_sample",
    _video_frame_sample,
    f"""
WITH m AS ({_SQL_MEDIA})
SELECT media_id, unnest(generate_series(0, n_frames - 1, 30))::INT AS frame_idx
FROM m WHERE media_type = 'video'
""",
)


def _audio_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.multimodal import audio_duration

    return audio_duration(_media(spark, sf_dir))


_register(
    "audio_durations",
    _audio_durations,
    f"""
WITH m AS ({_SQL_MEDIA})
SELECT media_id, ROUND(n_frames * 512.0 / sample_rate, 6) AS duration_s
FROM m WHERE media_type = 'audio'
""",
)


MEDIA_FEAT_DIM = 8


def _image_feature_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched stub decode → per-element feature columns; the
    recomputation must match the exported artifact exactly (determinism of
    the whole mapInPandas path — the same artifact-replay style as the
    LSH/HNSW oracles)."""
    from comet_spark.multimodal import image_features

    feats = image_features(_media(spark, sf_dir), dim=MEDIA_FEAT_DIM)
    key = (_skey(spark), sf_dir, "media_feats")
    if key not in _PROBE_WRITTEN:
        feats.write.mode("overwrite").parquet(f"{_art_dir(sf_dir)}/media/features.parquet")
        _PROBE_WRITTEN.add(key)
    cols = [
        F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
        for i in range(MEDIA_FEAT_DIM)
    ]
    return feats.select("media_id", *cols)


_register(
    "image_feature_cols",
    _image_feature_cols,
    f"""
SELECT media_id, {", ".join(f"ROUND(features[{i + 1}], 6) AS f{i}" for i in range(MEDIA_FEAT_DIM))}
FROM read_parquet('{_ART01}/media/features.parquet/*.parquet')
""",
)


def _media_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from comet_spark.multimodal import attach_media_real

    return attach_media_real(_t(spark, sf_dir, "documents"), id_col="doc_id")


def _image_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode: constant-color PPM/BMP payloads are parsed from
    actual bytes (multimodal.decode_ppm/decode_bmp) and gray-grid pooled;
    the oracle recomputes every feature as a closed form of the id — if
    header parsing, stride/padding, channel order, or pooling were wrong,
    the values would not match."""
    from comet_spark.multimodal import image_features

    feats = image_features(_media_real(spark, sf_dir), dim=4, decode_mode="real")
    cols = [
        F.round(F.element_at("features", i + 1), 6).alias(f"f{i}") for i in range(4)
    ]
    return feats.select("media_id", *cols)


_register(
    "image_real_features",
    _image_real_features,
    f"""
SELECT doc_id AS media_id,
       {", ".join(
        f"ROUND(((doc_id % 256) + ((7 * doc_id) % 256) + ((13 * doc_id) % 256)) / 3.0 / 255.0, 6) AS f{i}"
        for i in range(4)
    )}
FROM documents WHERE doc_id % 3 = 0
""",
)


RESIZE_W, RESIZE_H = 8, 6


def _image_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → nearest-neighbor resize → PPM re-encode → re-decode
    → pixel checksum (multimodal.image_resize + image_pixel_sum). The
    sources are constant-color, so the resized pixel sum is EXACTLY
    (r+g+b)·out_w·out_h — a closed form of the id that fails if header
    parsing, the resample index map, stride/padding, channel order, or
    the re-encode were wrong anywhere in the chain."""
    from comet_spark.multimodal import image_pixel_sum, image_resize

    resized = image_resize(
        _media_real(spark, sf_dir), out_w=RESIZE_W, out_h=RESIZE_H
    )
    return image_pixel_sum(resized)


_register(
    "image_resize_audit",
    _image_resize_audit,
    f"""
SELECT doc_id AS media_id, {RESIZE_W} AS width, {RESIZE_H} AS height,
       ((doc_id % 256) + ((7 * doc_id) % 256) + ((13 * doc_id) % 256))
         * {RESIZE_W} * {RESIZE_H} AS pix_sum
FROM documents WHERE doc_id % 3 = 0
""",
)


def _audio_real_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV parse: duration from the data chunk's actual sample count
    (multimodal.decode_wav), closed-form oracle from the id."""
    from comet_spark.multimodal import audio_duration

    return audio_duration(_media_real(spark, sf_dir), decode_mode="real")


_register(
    "audio_real_durations",
    _audio_real_durations,
    """
SELECT doc_id AS media_id,
       ROUND((1000 + doc_id % 500) / (8000.0 + (doc_id % 4) * 2000), 6) AS duration_s
FROM documents WHERE doc_id % 3 = 1
""",
)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the §3.2 hybrid query (metadata prefilter → vector + BM25 →
    RRF fusion → top-k) on sf0.001."""
    return _mk_hybrid("rrf")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
