"""BM25 full-text scoring as DataFrame algebra.

Reference semantics (``bm25_index_search.go:278-327``, constants
``bm25_index.go:75-80``):

- K1 = 1.2, B = 0.75
- IDF = ln((N − df + 0.5)/(df + 0.5) + 1)
- per (doc, term): idf · tf·(K1+1) / (tf + K1·(1 − B + B·docLen/avgDocLen))
- the scoring loop walks *query tokens including duplicates* — a term that
  appears twice in the query contributes twice (we multiply by ``qtf``).
- corpus stats (N, avgDocLen) are index-global: a candidate prefilter
  restricts which documents are scored, not the statistics
  (``hybrid_search_index.go:546-572`` passes candidates into an index whose
  stats cover the whole corpus).
- results sort score *descending* (``index_search.go:281-312``).

Spark shape: postings/doc-length are plain aggregations over an exploded
token table (map-side combine applies). No document-frequency table is
stored: like the reference, which takes df from the term's posting list
at query time (``bm25_index_search.go:306``), scoring counts each query
term's live posting rows with a window inside the plan. Scoring is that
window + one join + groupBy(id).sum() — no Python in the plan. At cluster
scale the postings build is a single shuffle on (id, term) and scoring
reads only the posting rows of the query's terms.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from comet_spark.functions.text import tokenize
from comet_spark.functions.uax29 import tokenize_unicode_py
from comet_spark.operators.topk import topk
from comet_spark.session import local_frame

__all__ = ["BM25", "DuplicateIdsError", "K1", "B", "tokenize_py"]

K1 = 1.2
B = 0.75

_META_SCHEMA = "buckets int"
_STATS_SCHEMA = "n_docs double, avgdl double, total_dl double"


class DuplicateIdsError(ValueError):
    """:meth:`BM25.append`'s duplicate-id probe fired: the batch carries
    ids the index already has. A TYPED signal (not message text) so the
    ingest replay protocol can distinguish 'this batch may be a replay'
    from any other ValueError."""


def _index_writer_lock(spark, path: str, op: str):
    """Single-writer enforcement for the persisted index's write paths
    (write/append/compact), reusing the store's atomic lock-marker
    primitive: two concurrent writers interleaving segment files would
    corrupt the doc_len/stats ledger the replay probes certify against,
    so the second writer fails fast (``StoreLockedError``) instead —
    exactly the store's A9 discipline (reference storage lock,
    ``storage_provider.go:36-246``). A crashed writer leaves the marker;
    :meth:`BM25.force_unlock` clears it (``bm25_ingest_stream`` does so
    automatically on restart — it IS the single writer)."""
    from comet_spark.storage.store import _FS, _writer_lock

    return _writer_lock(_FS(spark, path), f"{path}/_lock", op)


def _postings_table_name(path: str) -> str:
    """Metastore table name for a bucketed postings path. The readable
    sanitized form is lossy ('/ix-1' and '/ix_1' collide), so a path hash
    disambiguates — otherwise write() could silently clobber another
    index's table."""
    import hashlib

    safe = re.sub(r"[^a-zA-Z0-9_]", "_", path).strip("_")
    return f"bm25_postings_{safe}_{hashlib.md5(path.encode()).hexdigest()[:8]}"


def _deletes_vector(spark, fs, path: str):
    """The COMMITTED delete vector as a distinct-id DataFrame, or None
    when ``deletes`` holds no committed part file (listing and crash
    states: ``storage.store._committed_parts``)."""
    from comet_spark.storage.store import _committed_parts

    parts = _committed_parts(fs, f"{path}/deletes")
    return spark.read.parquet(*parts).select("id").distinct() if parts else None


def _meta_buckets(spark, path: str) -> int:
    """The bucket count :meth:`BM25.write` recorded in ``meta``. A
    missing or damaged ``meta`` fails loudly: ``write`` lands ``meta``
    before ``stats``, so an index without it never committed, and
    reading it as "unbucketed" would append bucket-less part files into
    a bucketed ``postings``."""
    # the schema is known: reading with it skips the inference job
    meta = spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta").first()
    return int(meta["buckets"])


def _heal_tables(fs, path: str) -> None:
    """EVERY index write path's entry heal, under the writer lock:
    ``storage.store._heal_dir`` on each of the three tables (crash states:
    that module's docstring). It must run on write/append too, not just
    on a compact re-run: ``append`` RECREATES a missing table directory
    on its mode-append write, so an append landing on a crashed
    compact's stats window would rebuild that table from one batch —
    silently shrinking n_docs/avgdl for every query."""
    from comet_spark.storage.store import _heal_dir

    for sub in ("doc_len", "postings", "stats"):
        _heal_dir(fs, f"{path}/{sub}")


def _tiered_merge(
    spark, fs, path: str, sub: str, buckets: int
) -> bool:
    """Size-tiered file merge of ``{path}/{sub}``: within each tier
    group (per bucket when ``buckets > 0``, else per directory), the
    shared policy (``storage.store._pick_tier_merge``) selects zero or
    more MERGE SETS — below the consolidation cap the familiar
    small-tail merge / epoch consolidation, above it the absolute
    size-class ladder (within-tier merging: each class that fills to
    the STCS min-threshold merges into one output landing in the NEXT
    class) — and the kept files move across by RENAME. Rewrite cost
    stays proportional to the merged sets, never the table, with O(log)
    write amplification and bounded file counts even on an index that
    never takes a full compact. Rows must be disjoint across files
    (true for postings/doc_len — append's contract), since the merge is
    pure file consolidation. Returns False when no group has anything
    to merge.

    Each set lands as ONE file per bucket group (the promotion
    invariant: a class merge's output must reach the next class, so it
    is never split back by ``rows_per_file`` — file sizes stay bounded
    by the policy's ``ladder_max_bytes`` terminal instead). Sets on the
    same ladder rung across buckets share one scratch write — the
    repartition by the bucket hash routes every bucket's rows to its
    own single output file — so a pass costs O(#rungs) jobs, not
    O(#buckets).

    Installs with ``storage.store._swap_dir``, the kept files as its
    ``keep`` entries (crash states: that module's docstring). Multi-rung
    output writes all happen into the side dir before the journal lands,
    so the multi-output pass inherits the same abort-or-complete
    guarantee."""
    cur = f"{path}/{sub}"
    files = [
        (n, s) for n, s in fs.list_status(cur) if n.startswith("part-")
    ]
    groups: dict[int, list[tuple[str, int]]] = {}
    if buckets > 0:
        for n, s in files:
            m = re.search(r"_(\d{5})\.c\d+", n)
            if not m:
                raise ValueError(
                    f"tiered compact: {n} carries no bucket id — "
                    f"{cur} is not a bucketed layout"
                )
            groups.setdefault(int(m.group(1)), []).append((n, s))
    else:
        groups[0] = files
    from comet_spark.storage.store import _pick_tier_merge, _size_class, _swap_dir

    kept, sets = [], []
    for g in groups.values():
        k, m = _pick_tier_merge(g)
        kept.extend(k)
        sets.extend(m)
    if not sets:
        return False
    # union the sets by ladder rung (tail = -1): one write per rung keeps
    # per-bucket outputs separate per rung, which is exactly the grain the
    # promotion invariant needs
    sizes = dict(files)
    by_rung: dict[int, list[str]] = {}
    for s_files in sets:
        rung = max(_size_class(sizes[n]) for n in s_files)
        by_rung.setdefault(rung, []).extend(s_files)
    scratch = f"{cur}.tierscratch"
    fs.delete(scratch)  # stale leftover from a crashed pass

    def _write_one(src, dst: str) -> None:
        if buckets > 0:
            # through a scratch external table so the merged files land
            # with proper bucket-id names (repartition by the bucket hash
            # routes every row back to its own bucket — one file per
            # touched bucket)
            name = _postings_table_name(path)
            tmp_name = f"{name}_tiering"
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            (
                src.repartition(buckets, "term")
                .write.mode("overwrite")
                .option("path", dst)
                .bucketBy(buckets, "term")
                .sortBy("term")
                .saveAsTable(tmp_name)
            )
            spark.sql(f"DROP TABLE {tmp_name}")  # external: files stay
        else:
            src.coalesce(1).write.mode("overwrite").parquet(dst)

    def _write_side(tmp: str) -> None:
        for i, rung in enumerate(sorted(by_rung)):
            src = spark.read.parquet(*[f"{cur}/{n}" for n in by_rung[rung]])
            if i == 0:
                _write_one(src, tmp)
                continue
            fs.delete(scratch)
            _write_one(src, scratch)
            # distinct write UUIDs make the names collision-free in tmp
            for n, _sz in fs.list_status(scratch):
                if n.startswith("part-") and not fs.rename(
                    f"{scratch}/{n}", f"{tmp}/{n}"
                ):
                    raise OSError(f"tiered merge: could not stage {n}")
            fs.delete(scratch)

    _swap_dir(fs, cur, kept, _write_side)
    return True


def tokenize_py(text: str) -> list[str]:
    """Python twin of :func:`comet_spark.functions.text.tokenize` for
    constant query strings — the full reference pipeline (NFKC → lower →
    UAX#29 → wordlike); agrees with the native expression on
    NFKC-invariant text (property-tested in tests/test_text.py)."""
    return tokenize_unicode_py(text)


def _token_table(
    docs: DataFrame, id_col: str, text_col: str, normalize: bool
) -> DataFrame:
    """(id, term) exploded token table of a corpus — the shared front of
    the index BUILD and the incremental APPEND paths, so the per-row
    tokenizer routing exists exactly once."""
    from comet_spark.functions.text import NONNATIVE_TOKEN_RE, nfkc, tokenize_unicode

    # write-time NFKC (reference bm25_index.go:153-156): the index
    # build normalizes once, so scoring stays native on any corpus.
    # ASCII corpora pass through with zero added cost (one probe
    # scan); normalize=False opts out when the caller guarantees
    # already-normalized AND non-ideographic input.
    text = F.col(text_col)
    is_nonnative = F.coalesce(text.rlike(NONNATIVE_TOKEN_RE), F.lit(False))
    nonnative = non_ascii = False
    if normalize:
        # ONE probe scan yields both routing flags: does any row need the
        # reference-exact Arrow tokenizer (functions.text.
        # needs_unicode_tokenize), and does any row left on the native
        # path carry non-ASCII text, i.e. need the NFKC pass
        # (has_non_ascii, as ensure_nfkc applies it to those rows)
        flags = docs.agg(
            F.max(is_nonnative).alias("nonnative"),
            F.max(
                F.coalesce(text.rlike("[^\\x00-\\x7F]"), F.lit(False))
                & ~is_nonnative
            ).alias("non_ascii"),
        ).first()
        nonnative, non_ascii = bool(flags["nonnative"]), bool(flags["non_ascii"])

    def _native(rows: DataFrame) -> DataFrame:
        if non_ascii:
            rows = rows.withColumn(text_col, nfkc(text_col))
        return rows.select(
            F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("term")
        )

    if nonnative:
        # Rows the native tokenizer cannot segment per UAX#29 —
        # ideographic scripts (Han/Hiragana split char-by-char per
        # WB999 while the native regex concatenates letter runs),
        # non-ASCII in-word joiners (U+2019 in "l’étoile" is
        # MidNumLet), ZWNJ/ZWJ and other format chars — must tokenize
        # exactly like the QUERY side (tokenize_py = full UAX#29) or
        # queries on those words return zero hits. Routing is PER
        # ROW (the probe only decides whether this branch exists at
        # all): rows matching NONNATIVE_TOKEN_RE take the
        # reference-exact Arrow path (which NFKC-normalizes
        # internally), every other row stays on the native JVM
        # pipeline — a 100 TB corpus that is 1% CJK pays the
        # Python tokenizer on 1% of rows, not 100% (combining marks
        # are NOT a route reason: the native token class absorbs
        # \p{M} per WB4, so Indic/Arabic mark-bearing rows stay
        # native — tests/test_text.py mark-fuzzes the parity). The route
        # predicate runs on PRE-NFKC text, which is why the class
        # also covers the compatibility forms NFKC folds INTO its
        # members (see functions/text.py). The union costs a second
        # scan of the corpus, but the native leg's filter is pushed
        # to the scan and the Arrow leg reads only its rows.
        arrow_toks = docs.filter(is_nonnative).select(
            F.col(id_col).alias("id"),
            F.explode(tokenize_unicode(text_col)).alias("term"),
        )
        return arrow_toks.unionByName(_native(docs.filter(~is_nonnative)))
    return _native(docs)


class BM25:
    """A BM25 'index' = postings plus two small derived DataFrames
    (doc_len, stats) over a corpus. ``df`` (postings grouped by term) is
    a derived view for inspection only: scoring counts df from the
    query terms' live postings in its own plan.

    ``cache=True`` persists the postings/doc-stats (the 'index build'):
    right when several queries hit the same corpus — exactly the situation
    the reference's in-memory inverted index optimizes for.

    ``checkpoint=True`` instead computes the postings once, eagerly
    (``localCheckpoint``), and leaves the derived tables lazy over them:
    the shape for a one-shot write such as :meth:`append`'s segment.
    Unlike a cached plan, whose partitioning stays pinned at
    ``spark.sql.shuffle.partitions``, the checkpoint keeps the partition
    count AQE chose, so each table's write is sized by its data (one
    part file for a small batch instead of one per shuffle partition).
    """

    def __init__(
        self, docs: DataFrame, *, id_col: str = "id", text_col: str = "text",
        cache: bool = False, normalize: bool = True, checkpoint: bool = False,
    ):
        if cache and checkpoint:
            raise ValueError("BM25: cache and checkpoint are exclusive")
        toks = _token_table(docs, id_col, text_col, normalize)
        # tf per (doc, term); doc length per doc
        self.postings = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
        if cache:
            self.postings = self.postings.cache()
        elif checkpoint:
            self.postings = self.postings.localCheckpoint()
        # doc length derives FROM the postings (sum of tfs == token count),
        # not from the raw toks plan: with cache=True every downstream
        # consumer then reads the cached table instead of re-tokenizing
        # and re-exploding the whole corpus per query. Token-less docs get
        # an explicit dl=0 row — they can never match, but recording their
        # ids makes doc_len the complete id ledger (append's duplicate-id
        # probe reads it) and they participate in N/avgdl like the
        # reference's numDocs/totalTokens counters (bm25_index.go:107-113).
        dl_pos = self.postings.groupBy("id").agg(F.sum("tf").alias("dl"))
        self.doc_len = (
            docs.select(F.col(id_col).alias("id"))
            .join(dl_pos, "id", "left")
            .select("id", F.coalesce("dl", F.lit(0)).alias("dl"))
        )
        # document frequency per term: a view only — nothing scores from
        # it or persists it, so it is never cached
        self.df = self.postings.groupBy("term").agg(F.count("*").alias("df"))
        # total_dl (exact — dl is integral) rides along so :meth:`append`
        # can merge per-segment stats without an avgdl rounding error.
        self.stats = self.doc_len.agg(
            F.count("*").cast("double").alias("n_docs"),
            (F.sum("dl") / F.count("*")).alias("avgdl"),
            F.sum("dl").cast("double").alias("total_dl"),
        )
        if cache:
            # the derived tables are doc-sized — caching them (not just
            # the postings) is what makes repeat queries skip every
            # corpus-wide aggregation
            self.doc_len = self.doc_len.cache()
            self.stats = self.stats.cache()
        # ids soft-deleted via :meth:`delete` (set by :meth:`read` when a
        # persisted index carries a delete vector); None = nothing deleted
        self.del_ids: DataFrame | None = None

    def write(self, path: str, *, buckets: int = 0) -> None:
        """Persist the index (A8 serialization sink for the text index —
        the reference writes BM25 streams the same way,
        ``bm25_index.go:423+``; here the parquet tables ARE the format).

        With ``buckets > 0`` the postings are written ``bucketBy(term)``
        (bucketing lives in catalog metadata, so they land as a
        Spark-managed table over ``path``): repeated sessions then score
        queries without re-shuffling — or re-tokenizing — the corpus,
        and a query's literal-term ``isin`` filter (see :meth:`score`)
        prunes the scan to only the terms' buckets. ``buckets=0`` writes
        plain parquet (portable, no metastore). The bucket count is
        persisted in ``meta`` so :meth:`read` can re-register the table
        in a fresh session. Write paths are single-writer, ENFORCED by
        the same lock marker as the DocumentStore (see
        :func:`_index_writer_lock`)."""
        spark = self.postings.sparkSession
        with _index_writer_lock(spark, path, "write"):
            from comet_spark.storage.store import _FS

            _heal_tables(_FS(spark, path), path)
            if buckets > 0:
                name = _postings_table_name(path)
                (
                    # route through the bucket hash first: bucketBy alone
                    # writes one file per TASK per bucket (a 32-task build
                    # fragments every bucket 32 ways); repartition(buckets,
                    # term) IS the bucket function, so each bucket lands as
                    # exactly one task's single sorted file — the same
                    # shape compact produces, with the write-time bucket
                    # count as the parallelism/file-size knob at scale
                    self.postings.repartition(buckets, "term")
                    .write.mode("overwrite")
                    .option("path", f"{path}/postings")
                    .bucketBy(buckets, "term")
                    .sortBy("term")
                    .saveAsTable(name)
                )
            else:
                self.postings.write.mode("overwrite").parquet(f"{path}/postings")
            local_frame(spark, [(int(buckets),)], _META_SCHEMA).repartition(
                1
            ).write.mode("overwrite").parquet(f"{path}/meta")
            self.doc_len.write.mode("overwrite").parquet(f"{path}/doc_len")
            self.stats.repartition(1).write.mode("overwrite").parquet(f"{path}/stats")

    @classmethod
    def heal(cls, spark, path: str) -> None:
        """Recover a crashed write/append/compact explicitly: resolve any
        interrupted table swap (``storage.store._heal_dir``). Runs UNDER the
        writer lock — the heal renames directories, and doing that
        lock-free could interleave with a live compactor mid-swap
        (resurrecting the aside dir it is about to install over). All
        write paths heal implicitly; call this only to repair an index
        ahead of read-only use."""
        from comet_spark.storage.store import _FS

        with _index_writer_lock(spark, path, "heal"):
            _heal_tables(_FS(spark, path), path)

    @classmethod
    def force_unlock(cls, spark, path: str) -> None:
        """Remove a stale writer-lock marker left by a crashed
        write/append/compact (same recovery contract as
        ``DocumentStore.force_unlock`` — confirm no writer is live)."""
        from comet_spark.storage.store import _FS

        _FS(spark, path).delete(f"{path}/_lock")

    @classmethod
    def read(cls, spark, path: str, *, buckets: int | None = None) -> "BM25":
        """Reopen a persisted index — no tokenize/shuffle on the read path.

        ``buckets`` defaults to the count recorded at :meth:`write` time
        (``meta``). A bucketed table written by a PREVIOUS session is
        re-registered in this session's catalog from its files (the
        default in-memory catalog forgets tables at session end; the
        bucket spec must come from metadata, files alone don't carry
        it) — so the bucketed layout, not a rebuild, is the default
        query path across sessions."""
        from comet_spark.storage.store import _FS

        ix = cls.__new__(cls)
        fs = _FS(spark, path)
        if buckets is None:
            buckets = _meta_buckets(spark, path)
        if buckets > 0:
            name = _postings_table_name(path)
            if not spark.catalog.tableExists(name):
                schema = spark.read.parquet(f"{path}/postings").schema
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
                )
                loc = f"{path}/postings".replace("'", "''")
                # IF NOT EXISTS: two concurrent readers in one session can
                # both pass the tableExists probe (TOCTOU) — the loser of
                # the registration race must no-op, not throw. The spec
                # both would register is identical (derived from the same
                # persisted meta), so either winner serves both.
                spark.sql(
                    f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
                    f"CLUSTERED BY (term) SORTED BY (term) INTO {buckets} BUCKETS "
                    f"LOCATION '{loc}'"
                )
            else:
                # pick up segment files appended outside this session's
                # cached file listing
                spark.catalog.refreshTable(name)
            ix.postings = spark.table(name)
        else:
            ix.postings = spark.read.parquet(f"{path}/postings")
        ix.doc_len = spark.read.parquet(f"{path}/doc_len")
        ix.stats = spark.read.schema(_STATS_SCHEMA).parquet(f"{path}/stats")
        # Incremental appends (:meth:`append`) leave one stats row per
        # segment. The merge is exact: postings/doc_len concatenate (ids
        # are disjoint by append's contract) and avgdl recomputes from
        # the integral total_dl — so an appended-then-reopened index is
        # value-identical to a fresh full-corpus build. A single-segment
        # index (the common case) keeps its stored row.
        segs = ix.stats.collect()  # one tiny row per segment
        if len(segs) > 1:
            n = float(sum(r["n_docs"] for r in segs))
            tdl = float(sum(r["total_dl"] or 0.0 for r in segs))
            ix.stats = local_frame(
                spark, [(n, tdl / n if n else None, tdl)], _STATS_SCHEMA
            )
        ix.del_ids = None
        # Delete vector (:meth:`delete`): with a vector present, every
        # delete-sensitive statistic derives LIVE from the current
        # tables — n_docs/avgdl from the anti-joined doc_len here, each
        # query term's df from the anti-joined (pruned) postings scan in
        # _scored — never from stored aggregates ± vector-sized
        # corrections. That makes ANY mix of applied/unapplied tables a
        # crashed delete-applying compact leaves behind read correctly:
        # for a table already rewritten to survivors the anti-join is
        # simply a no-op. Only vector absence — including an uncommitted
        # directory, which _deletes_vector reads as no-deletes — is
        # tolerated; a read error on committed files propagates loudly:
        # silently dropping the vector would resurrect soft-deleted docs.
        dels = _deletes_vector(spark, fs, path)
        if dels is not None:
            ix.del_ids = dels
            ix.doc_len = ix.doc_len.join(
                F.broadcast(dels), "id", "left_anti"
            )
            live = ix.doc_len.agg(
                F.count("*").alias("n"), F.sum("dl").alias("s")
            ).first()
            n2, tdl2 = float(live["n"]), float(live["s"] or 0.0)
            ix.stats = local_frame(
                spark, [(n2, tdl2 / n2 if n2 else None, tdl2)], _STATS_SCHEMA
            )
        live_posts = ix.postings
        if dels is not None:
            live_posts = live_posts.join(F.broadcast(dels), "id", "left_anti")
        ix.df = live_posts.groupBy("term").agg(F.count("*").alias("df"))
        return ix

    @classmethod
    def append(
        cls,
        spark,
        path: str,
        new_docs: DataFrame,
        *,
        id_col: str = "id",
        text_col: str = "text",
        normalize: bool = True,
        check_disjoint: bool = True,
    ) -> None:
        """Incrementally extend a persisted index with NEW documents —
        J-family index maintenance for the text side, matching the ANN
        layouts' refresh/compact story. Only the appended batch is
        tokenized — in one pass: its postings are materialized once
        (``checkpoint=True``) and doc_len/stats derive from them — and
        its postings/doc_len land as extra segment files while stats
        gains one per-segment row. Each write is sized by AQE
        for the batch's data, so a small batch adds one part file per
        table (not one per shuffle partition for the fresh reads and the
        compaction to scan). Nothing on disk is
        read back or rewritten, so the maintenance cost is O(batch)
        rather than the full-corpus re-tokenize + (id, term) shuffle a
        rebuild pays — the same reason the reference mutates its
        in-memory postings on Add (``bm25_index.go:99-140``) instead of
        re-indexing. :meth:`read` merges segments exactly (see there),
        so scores off an appended index equal a fresh full-corpus build.

        On a bucketed index the new postings append INTO the bucket
        layout (Spark shuffles the batch by the bucket hash), keeping
        literal-term bucket pruning across segments; many small appends
        accumulate files per bucket — :meth:`compact` re-consolidates
        them in one index-sized rewrite (no re-tokenize), exactly like
        store compaction.

        ``check_disjoint=True`` verifies no appended id already exists
        (one broadcast semi-join probe against doc_len, the index's
        complete id ledger — token-less docs are recorded there with
        dl=0); pass ``False`` on huge stores when id freshness is
        guaranteed upstream (e.g. DocumentStore sequencing).
        Upsert/delete semantics belong to the LSM merge view
        (lsm_merge_bm25), not here.

        Crash/concurrency contract: the writes go doc_len → postings →
        stats. doc_len is written FIRST, so a retry of a torn append
        always fail-fasts on the duplicate-id probe instead of silently
        double-counting postings; stats is written LAST as the segment's
        commit record. Between those, readers that open mid-append may
        transiently see the batch's postings (and so its df counts)
        without its stats row; like the reference's single-writer index,
        open readers after the append completes, and recover a torn index by
        rebuilding from the corpus (``BM25(...).write(path)``) or let
        :func:`~comet_spark.streaming.ingest.bm25_ingest_stream`'s heal
        path do it."""
        with _index_writer_lock(spark, path, "append"):
            from comet_spark.storage.store import _FS

            fs = _FS(spark, path)
            _heal_tables(fs, path)
            buckets = _meta_buckets(spark, path)
            if check_disjoint:
                # inside the lock: the probe is a read-then-write on the
                # id ledger, exactly what the lock serializes
                old_ids = spark.read.parquet(f"{path}/doc_len").select("id")
                dup = (
                    new_docs.select(F.col(id_col).alias("id"))
                    .join(old_ids, "id", "left_semi")
                    .limit(1)
                    .count()
                )
                if dup:
                    raise DuplicateIdsError(
                        "append(): batch contains ids already in the index; "
                        "appended documents must be new (route upserts "
                        "through the LSM merge view instead)"
                    )
            # checkpoint=True: the batch is tokenized and aggregated ONCE
            # (doc_len/stats derive from the materialized
            # postings), and every write keeps the partitioning AQE
            # picks for its data — one part file per table for a small
            # batch (a cached plan would pin shuffle.partitions files)
            seg = cls(
                new_docs, id_col=id_col, text_col=text_col,
                normalize=normalize, checkpoint=True,
            )
            # doc_len FIRST: it is the id ledger the duplicate-id
            # probe reads, so any retry of a crash landing after this
            # point fail-fasts instead of double-counting postings
            seg.doc_len.write.mode("append").parquet(f"{path}/doc_len")
            if buckets > 0:
                # mode=append honors (or, in a fresh session where
                # the catalog forgot the table, re-creates) the
                # bucket spec; the pre-existing files under
                # path/postings stay table data
                (
                    seg.postings.write.mode("append")
                    .option("path", f"{path}/postings")
                    .bucketBy(buckets, "term")
                    .sortBy("term")
                    .saveAsTable(_postings_table_name(path))
                )
            else:
                seg.postings.write.mode("append").parquet(f"{path}/postings")
            # stats LAST: the segment's commit record
            seg.stats.repartition(1).write.mode("append").parquet(
                f"{path}/stats"
            )

    @classmethod
    def delete(cls, spark, path: str, ids, *, id_col: str = "id") -> int:
        """Soft-delete documents from a persisted index — the reference's
        ``BM25SearchIndex.Remove`` (``bm25_index.go:253-278``: mark in the
        ``deletedDocs`` roaring bitmap, O(log n), physical removal
        deferred to ``removeInternal``, ``bm25_index.go:282-321``, which
        is what our full :meth:`compact` mirrors): the ids append to a
        DELETE VECTOR at ``path/deletes``; nothing else on disk changes.
        One deliberate strengthening over the reference: the reference's
        soft state only filters RESULTS (numDocs/avgDocLen/df stay stale
        until the hard remove), while here the read path corrects the
        statistics exactly, so a soft-deleted index scores as if the docs
        were never built. :meth:`read` applies the vector exactly — the
        docs vanish from results AND from the corpus statistics (df per
        query term, n_docs, avgdl), so a read-after-delete scores
        byte-identically to an index built without those docs.

        Every correction is derived from the vector's intersection with
        LIVE rows (doc_len for n_docs/avgdl at read; the query terms'
        anti-joined postings for df, counted inside the scoring plan),
        never from numbers stored at delete time — so the one write here
        is a single append of independently-valid id rows: any
        torn/partial state is simply "fewer deletes landed", and a
        vector entry whose rows a later FULL compact already dropped
        contributes exactly nothing. :meth:`compact` with
        ``tiered=False`` applies the vector physically (drops the rows,
        recomputes stats from survivors, clears the vector);
        ``tiered=True`` retains it, like the store's
        tiered merge retains the base's delete files.

        A deleted id stays in the id LEDGER (doc_len) until that full
        compact, so re-appending it first raises ``DuplicateIdsError`` —
        delete is a search-visibility operation, not a ledger removal
        (route upserts through the LSM merge view, as :meth:`append`
        documents). Returns the number of ids actually recorded (already
        -deleted and never-indexed ids are skipped — idempotent).

        On an index fed by ``bm25_ingest_stream``, pair this with
        ``DocumentStore.delete`` on the backing store (and call both
        only while the stream is stopped — the single-writer contract):
        the store is the rebuild source for a torn index, so a
        BM25-only delete would be resurrected by a rebuild-from-store
        heal.

        ``ids``: a DataFrame carrying ``id_col``, or an iterable of ids.
        """
        from comet_spark.storage.store import _FS

        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(id_col).alias("id"))
        else:
            ids_df = local_frame(spark, [(int(i),) for i in ids], "id bigint")
        fs = _FS(spark, path)
        with _index_writer_lock(spark, path, "delete"):
            _heal_tables(fs, path)
            ledger = spark.read.parquet(f"{path}/doc_len").select("id")
            # normalize to the LEDGER's id type before anything is written:
            # a DataFrame call with int32 ids followed by an iterable call
            # (bigint) would otherwise leave mixed-schema part files under
            # path/deletes, which the vector's single-schema read then
            # fails on forever (ADVICE r08) — one vector, one schema.
            # try_cast + the exactness check below: an id the ledger type
            # cannot represent EXACTLY must fail LOUDLY — a plain cast
            # would wrap an out-of-range value (non-ANSI) or throw
            # mid-join (ANSI), and try_cast alone silently TRUNCATES a
            # fractional one (try_cast(5.7 AS bigint) = 5); either way a
            # DIFFERENT, real document would be deleted. The round-trip
            # back to the input's own type catches the truncation —
            # applied ONLY to fractional/decimal inputs: for strings the
            # forward try_cast is already exact-or-NULL ('5.7' → NULL,
            # '05' → 5), and a representation round-trip would wrongly
            # reject non-canonical spellings of valid ids ('05', ' 5').
            from pyspark.sql.types import FractionalType

            ledger_t = ledger.schema["id"].dataType
            orig_t = ids_df.schema["id"].dataType
            ids_df = ids_df.select(
                F.col("id").alias("__orig"),
                F.col("id").try_cast(ledger_t).alias("id"),
            )
            bad_cond = F.col("id").isNull() & F.col("__orig").isNotNull()
            if isinstance(orig_t, FractionalType):  # float/double/decimal
                bad_cond = bad_cond | (
                    F.col("id").isNotNull()
                    & (F.col("id").try_cast(orig_t) != F.col("__orig"))
                )
            bad = ids_df.filter(bad_cond).limit(1).collect()
            if bad:
                raise ValueError(
                    f"delete: id {bad[0]['__orig']!r} is not exactly "
                    f"representable as the index's id type "
                    f"{ledger_t.simpleString()} — it cannot name any "
                    "indexed document"
                )
            ids_df = ids_df.select("id")
            # scope to ids actually in the ledger and not already deleted:
            # keeps the vector bounded and the return count meaningful
            fresh = ids_df.distinct().join(ledger, "id", "left_semi")
            already = _deletes_vector(spark, fs, path)
            if already is not None:  # uncommitted dir == no deletes yet
                fresh = fresh.join(already, "id", "left_anti")
            fresh = fresh.localCheckpoint()  # sever before writing to a read path
            n = fresh.count()
            if n:
                fresh.repartition(1).write.mode("append").parquet(f"{path}/deletes")
            return int(n)

    @classmethod
    def compact(
        cls, spark, path: str, *, rows_per_file: int = 8_000_000,
        tiered: bool = False,
    ) -> None:
        """Consolidate an appended index IN PLACE — the text-side twin of
        ``DocumentStore.compact`` (reference segment compaction,
        ``storage_compaction.go:19-114`` merges the oldest segments and
        swaps atomically). :meth:`append` accumulates one postings/
        doc_len segment and one stats row per batch; this rewrite
        merges them back to the single-segment shape WITHOUT touching
        the corpus: postings rows are disjoint by id across segments, so
        consolidation is a file-level rewrite (one hash shuffle of the
        index-sized postings back into the bucket layout — no
        re-tokenize, no corpus scan), and the per-segment stats rows
        fold into one exactly (integral ``total_dl``, the same merge
        :meth:`read` applies). Afterwards :meth:`read` finds one stats
        row and literal-term bucket pruning sees one file per bucket.
        Cost ∝ index size —
        compare the full rebuild, which pays tokenize + an (id, term)
        corpus shuffle first (measured in SCALE_SOAK.json).

        Each table is value-identical before and after, so the swap
        order across tables cannot produce a wrong reader state; per
        table the rewrite installs with ``storage.store._swap_dir``
        (crash states and their heal: that module's docstring; every
        write path heals at entry). Single-writer, ENFORCED by the shared
        lock marker (:func:`_index_writer_lock`); open readers after the
        swap. A torn index (a crashed append's doc_len
        segment without its stats commit record) is refused up front —
        rebuild from the corpus first, as :meth:`append` documents.

        On a bucketed index the postings shuffle uses the bucket hash
        (``repartition(buckets, term)`` IS Murmur3 pmod buckets), so
        every bucket lands as exactly one task's single file; the
        write-time bucket count remains the scale knob for how large
        that file gets at 100 TB.

        ``tiered=True`` switches postings and doc_len to a SIZE-TIERED
        merge (real LSM levels): per bucket (postings) or per directory
        (doc_len), files below the top size tier merge and the kept
        top-tier files move across by RENAME (policy:
        ``storage.store._pick_tier_merge`` — top tier = within 4× of
        the group's largest, so a multi-file base is protected; a
        uniform group consolidates at the STCS min-threshold; a merged
        output re-merges with newer appends until it grows into the
        top tier) — so on a huge index that absorbed small appends, the
        per-call rewrite is bounded by ~base/4 and typically just the
        appended segments (bytes measured in SCALE_SOAK.json). Valid
        because rows are disjoint by id across segment files; stats
        still rewrites fully (its rows fold to one). Above the
        consolidation cap the policy switches to the absolute
        size-class ladder (within-tier merging: each filled class
        merges into one output PROMOTED to the next class; files at the
        ladder terminal are left for a full compact), so buckets hold a
        BOUNDED handful of files with O(log) write amplification even
        if a full compact never runs (SCALE_SOAK.json tier_ladder_sim);
        a full compact still restores the exact one-file-per-bucket
        shape when wanted. The tiered merges install through the same
        swap, so each crash point either aborts or completes and never
        double-counts."""
        from comet_spark.storage.store import _FS, _swap_dir

        fs = _FS(spark, path)
        with _index_writer_lock(spark, path, "compact"):
            _heal_tables(fs, path)
            buckets = _meta_buckets(spark, path)
            stats_rows = (
                spark.read.schema(_STATS_SCHEMA).parquet(f"{path}/stats").collect()
            )
            # delete vector, loaded ONCE up front: the ledger check below
            # must be vector-aware, and the full path applies it. Only
            # absence (incl. an uncommitted dir) is tolerated; a read
            # error on committed files propagates loudly (silently
            # skipping the vector would resurrect deleted docs in the
            # compacted output).
            dels = _deletes_vector(spark, fs, path)
            if dels is not None:
                dels = dels.localCheckpoint()
            doc_len_t = spark.read.parquet(f"{path}/doc_len")
            n_docs = float(sum(r["n_docs"] for r in stats_rows))
            n_dl = doc_len_t.count()
            # DEAD vector entries — ids with no live doc_len row — are
            # exactly the docs a crashed delete-applying compact already
            # dropped (delete() only records live ids, so nothing else
            # creates them; entries added by a LATER delete() are live and
            # don't count).
            n_dead = 0
            if dels is not None:
                n_dead = dels.count() - doc_len_t.join(
                    F.broadcast(dels), "id", "left_semi"
                ).count()
            # torn-append refusal, delete-aware: a crashed delete-applying
            # compact legitimately leaves doc_len already at survivor
            # cardinality while the stats ledger (not yet rewritten) still
            # counts the dropped docs — that state shows exactly
            # n_dl == n_docs - n_dead, and stays recognizable even if
            # delete() ran again in between (review r08 #2: the new ids
            # are live, so they never inflate n_dead). A genuine torn
            # append adds doc_len rows WITHOUT a stats record
            # (n_dl > n_docs) and matches neither arm.
            if n_docs != float(n_dl) and not (
                n_dead and n_docs == float(n_dl + n_dead)
            ):
                raise ValueError(
                    f"compact(): stats ledger ({n_docs:.0f} docs) does not match "
                    f"doc_len ({n_dl} rows) — a previous append tore before its "
                    "stats commit record; rebuild with BM25(...).write(path)"
                )

            def _swap(sub: str, writer) -> None:
                _swap_dir(fs, f"{path}/{sub}", [], writer)

            def _finish_stats(from_live: bool = False) -> None:
                # fold the per-segment rows into one exactly (integral
                # total_dl). ``from_live`` (the delete-applying full
                # compact) instead recounts from the just-swapped
                # survivor doc_len — no re-tokenize, and the on-disk
                # ledger (stats.n_docs == doc_len rows) stays consistent.
                # an empty segment's total_dl is NULL (sum over no rows)
                tdl = float(sum(r["total_dl"] or 0.0 for r in stats_rows))
                n = n_docs
                if from_live:
                    r = spark.read.parquet(f"{path}/doc_len").agg(
                        F.count("*").alias("n"), F.sum("dl").alias("s")
                    ).first()
                    n, tdl = float(r["n"]), float(r["s"] or 0.0)
                # a local relation: the swap never reads the dir it replaces
                merged = local_frame(
                    spark, [(n, tdl / n if n else None, tdl)], _STATS_SCHEMA
                )
                _swap(
                    "stats",
                    lambda t: merged.repartition(1)
                    .write.mode("overwrite").parquet(t),
                )

            if tiered:
                # the delete vector (if any) rides along untouched: tiered
                # merges keep every row, so the read path's live-row-
                # derived corrections stay exact, and the on-disk ledger
                # (stats vs doc_len) stays consistent — the full compact
                # below is what applies deletes physically
                _tiered_merge(spark, fs, path, "doc_len", 0)
                _tiered_merge(spark, fs, path, "postings", buckets)
                if buckets > 0 and spark.catalog.tableExists(
                    _postings_table_name(path)
                ):
                    spark.catalog.refreshTable(_postings_table_name(path))
                _finish_stats()
                return
            # full compact applies the delete vector physically (the
            # hard-delete rewrite, store J6's text twin): survivors-only
            # postings/doc_len, stats recomputed exactly from them,
            # the vector cleared LAST. Every intermediate crash state
            # reads correctly because the read path derives all
            # delete-sensitive statistics live (see read()/_scored), and
            # a compact re-run converges: anti-joins over already-
            # rewritten tables are no-ops, the ledger check above
            # accepts the mixed cardinality, and the from_live recompute
            # rebuilds stats from whatever survived.
            nf = max(1, -(-n_dl // rows_per_file))

            def _survivors(sub: str):
                t = spark.read.parquet(f"{path}/{sub}")
                return t if dels is None else t.join(
                    F.broadcast(dels), "id", "left_anti"
                )

            _swap(
                "doc_len",
                lambda t: _survivors("doc_len")
                .coalesce(nf).write.mode("overwrite").parquet(t),
            )
            if buckets > 0:
                # rewrite THROUGH a scratch external table (bucket metadata
                # only exists on tables): the consolidated bucket files —
                # their names carry the bucket id the reader keys on — then
                # swap under the live table's unchanged location + spec
                name = _postings_table_name(path)
                tmp_name = f"{name}_compacting"

                def _write_postings(t: str) -> None:
                    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
                    (
                        _survivors("postings")
                        .repartition(buckets, "term")
                        .write.mode("overwrite")
                        .option("path", t)
                        .bucketBy(buckets, "term")
                        .sortBy("term")
                        .saveAsTable(tmp_name)
                    )
                    spark.sql(f"DROP TABLE {tmp_name}")  # external: files stay

                _swap("postings", _write_postings)
                if spark.catalog.tableExists(name):
                    spark.catalog.refreshTable(name)  # new file listing
            else:
                _swap(
                    "postings",
                    lambda t: _survivors("postings")
                    .coalesce(nf).write.mode("overwrite").parquet(t),
                )
            _finish_stats(from_live=dels is not None)
            if dels is not None:
                fs.delete(f"{path}/deletes")


    def _stats_literals(self) -> tuple:
        """Driver-side ``(n_docs, avgdl)``, fetched once per instance and
        memoized on it — the convention the trained ANN models already
        follow (centroids/codebooks live driver-side and are folded into
        query literals). An instance's tables are an immutable committed
        snapshot (:meth:`read` sets ``stats`` — live-derived under a
        delete vector — exactly once), so every query sees the same
        doubles; collect() round-trips their exact bits."""
        memo = getattr(self, "_stats_memo", None)
        if memo is None:
            r = self.stats.first()
            memo = self._stats_memo = (r["n_docs"], r["avgdl"])
        return memo

    def _scored(
        self, query_terms: DataFrame | None, prefilter_ids: DataFrame | None,
        round_to: int | None, literal_terms: list[str] | None = None,
        literal_qtf: dict[str, float] | None = None,
    ) -> DataFrame:
        """The ONE scoring pipeline: → (qid, id, score) pre-top-k.
        score() and score_batch() share it so the BM25 formula exists
        exactly once. The two differ only in where qtf comes from — the
        ``(qid, term, qtf)`` ``query_terms`` DataFrame, joined by
        broadcast, or ``literal_qtf``, one constant query's per-term
        counts as a folded map literal — and in the group key (a
        constant query groups by id alone and re-attaches qid 0).

        The query terms' posting rows are pruned first: ``literal_terms``
        (when the caller knows the terms driver-side) is a LITERAL
        ``isin`` that pushes into the postings scan — parquet row-group
        stats skip non-matching data, and on a bucketed postings table it
        prunes to only the terms' buckets; the batch shape also
        semi-joins the query terms. A delete vector anti-joins next.

        df is then ``count(*) over (partition by term)`` on those live
        rows — exact in every crash state of a delete-applying compact,
        since for a table already rewritten to survivors the anti-join is
        a no-op. On term-bucketed postings the window is bucket-local (no
        shuffle). It runs BEFORE the prefilter semi-join: corpus
        statistics are index-global. n_docs/avgdl ride as literals
        (:meth:`_stats_literals`)."""
        posts = self.postings
        if literal_terms:
            posts = posts.filter(F.col("term").isin(literal_terms))
        if literal_qtf is None:
            posts = posts.join(
                F.broadcast(query_terms.select("term")), "term", "left_semi"
            )
        elif not literal_qtf:
            # zero-token query: matches NOTHING (with no isin filter
            # above, it would otherwise score every posting row)
            posts = posts.filter(F.lit(False))
        if self.del_ids is not None:
            posts = posts.join(F.broadcast(self.del_ids), "id", "left_anti")
        posts = posts.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
        if prefilter_ids is not None:
            posts = posts.join(prefilter_ids.select("id"), "id", "left_semi")
        if literal_qtf is None:
            matched = posts.join(F.broadcast(query_terms), "term")
            group = ["qid", "id"]
        else:
            qtf = F.element_at(
                F.create_map(
                    *(
                        lit
                        for t, c in literal_qtf.items()
                        for lit in (F.lit(t), F.lit(float(c)))
                    )
                ),
                F.col("term"),
            ) if literal_qtf else F.lit(None).cast("double")
            matched = posts.withColumn("qtf", qtf)
            group = ["id"]
        matched = matched.join(self.doc_len, "id")
        n_docs, avgdl = self._stats_literals()
        avgdl_col = F.lit(avgdl).cast("double")
        df = F.col("df")
        idf = F.log((F.lit(n_docs) - df + 0.5) / (df + 0.5) + 1.0)
        tf = F.col("tf").cast("double")
        denom = tf + K1 * (1.0 - B + B * (F.col("dl") / avgdl_col))
        term_score = F.col("qtf") * idf * (tf * (K1 + 1.0)) / denom
        scored = matched.groupBy(*group).agg(F.sum(term_score).alias("score"))
        if round_to is not None:
            scored = scored.withColumn("score", F.round("score", round_to))
        if literal_qtf is not None:
            scored = scored.select(
                F.lit(0).cast("bigint").alias("qid"), "id", "score"
            )
        return scored

    def score_batch(
        self,
        query_terms: DataFrame,
        *,
        k: int = 10,
        round_to: int | None = 6,
        prefilter_ids: DataFrame | None = None,
        literal_terms: list[str] | None = None,
    ) -> DataFrame:
        """Batch retrieval: ``query_terms`` is ``(qid, term, qtf)``; returns
        top-k ``(qid, id, score)`` per query — one job for the whole batch,
        so per-query overhead amortizes (the realistic serving shape).
        Callers holding the batch's term strings driver-side should pass
        their union as ``literal_terms`` for scan/bucket pruning."""
        from comet_spark.operators.topk import topk_per_group

        scored = self._scored(query_terms, prefilter_ids, round_to, literal_terms)
        return topk_per_group(
            scored, ["qid"], [F.col("score").desc(), F.col("id").asc()], k
        ).select("qid", "id", "score")

    def score(
        self,
        query: str,
        *,
        k: int = 10,
        prefilter_ids: DataFrame | None = None,
        round_to: int | None = 6,
    ) -> DataFrame:
        """Top-k ``(id, score)`` for a constant query string, score desc —
        one formula implementation: delegates to :meth:`score_batch` with
        a single constant qid."""
        terms: dict[str, int] = {}
        for t in tokenize_py(query):
            terms[t] = terms.get(t, 0) + 1
        # the constant query's terms are known here — push them as a
        # literal isin so the postings scan reads only their row
        # groups/buckets, and the per-term counts as a folded map literal
        # so no query-terms DataFrame is ever broadcast (see _scored)
        scored = self._scored(
            None, prefilter_ids, round_to, list(terms),
            literal_qtf={t: float(c) for t, c in terms.items()},
        ).select("id", "score")
        # single query → TakeOrderedAndProject, not a window
        return topk(scored, [F.col("score").desc(), F.col("id").asc()], k)
