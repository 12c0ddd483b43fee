"""Durable document store — the LSM-parity layer (SURVEY.md §2.J).

Reference architecture (``storage.go:11-148``): active memtable → frozen
memtables → gzip segments on disk; background flush + compaction; queries
fan out over memtables + segments and dedup by max score; deletes are
soft (bitmap) until compaction hard-deletes.

Spark rendering:
- a *segment* is a parquet subdirectory (``segment=N``); appending a batch
  writes a new segment — exactly the immutable-file append the LSM does
  (J1-J3). Parquet already compresses (snappy), so no gzip layer. Rows
  carry a ``__seq`` within the segment so newest-wins is a TOTAL order
  even when one batch writes the same id twice.
- *soft deletes* (J6/B15) are rows in a ``_deletes`` table, SEQUENCED
  against segments: each delete records the segment watermark it applies
  up to, so a document re-appended AFTER its delete is visible again
  (deletion vectors apply only to files present at delete time).
- the store reads only what its writers write: every segment carries
  ``__seq`` and every delete row an ``upto``. Earlier on-disk formats
  have no reader and no migration.
- *compaction* (J4) rewrites all segments into one and drops exactly the
  deletion files it applied — implemented correctly, not like the
  reference's stubbed merge (``storage_compaction.go:68-70`` writes empty
  segments). Single-writer semantics, ENFORCED by a lock marker file
  (mirroring the reference's storage lock,
  ``storage_provider.go:36-246``): append/delete/compact atomically
  create ``_lock``; a second concurrent writer fails fast instead of
  corrupting the segment sequence. The lock's atomicity — and therefore
  the single-writer guarantee — holds on HDFS/local filesystems;
  object stores (s3a://) lack atomic create-if-absent, so concurrent
  writers there need a table format with a transaction log.
- the *merged read view* (J5) is ``union_all(segments) → dedup by newest
  (segment, __seq) per id → hide rows older than their delete watermark``.
- all filesystem operations go through the Hadoop FileSystem of the
  path's scheme, so the store works on hdfs:// and s3a:// paths, not
  just local disk.

Crash-safe directory swap — the one protocol every rewritten directory
uses (this store's ``data``, the BM25 index tables, the near-dup
signature store, the BM25 ingest stream's state log). This module is the
only one that knows it: owners call :func:`_swap_dir` and :func:`_heal_dir`.

- :func:`_swap_dir` writes the replacement into ``<dir>.compacting``;
  entries named in ``keep`` are not rewritten but move across by rename
  (a size-tiered merge keeps its bulk; a full rewrite is ``keep=[]``).
  Only once the side directory is complete does the journal
  ``<dir>.tiermove`` (the ``keep`` list) land, atomically. Then ``<dir>``
  moves aside to ``<dir>.old``, the kept entries move into the side
  directory, the side directory installs as ``<dir>``, and ``.old`` and
  the journal go. ``<dir>`` is absent only between move-aside and
  install: readers then fail loudly, never silently wrong.
- :func:`_heal_dir` resolves any crash state. With a journal it has
  three outcomes: ``<dir>`` present and no ``.old`` (nothing moved yet)
  → ABORT, drop the side directory; ``<dir>`` absent (mid-move) →
  COMPLETE, move the remaining kept entries and install; both present
  (crashed after install) → drop the stale ``.old``. Without a journal
  (a crash before it landed, or a state from the older two-rename swap)
  a lone ``.old`` is renamed back and leftovers are dropped. Every write
  path of the owner runs it under the owner's lock (or as the
  directory's only writer) before reading or writing the directory; a
  heal interrupted by a crash re-heals identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["DocumentStore", "StoreLockedError"]


class _FS:
    """Thin Hadoop FileSystem wrapper (scheme-aware list/exists/rename).

    Reaches through the ``_jvm``/``_jsc`` gateway — the standard PySpark
    way to touch the Hadoop FileSystem API, but a private surface that
    pins the store to the classic (non-Connect) runtime."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(path).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self, path: str) -> bool:
        return bool(self.fs.exists(self._Path(path)))

    def listdir(self, path: str) -> list[str]:
        if not self.exists(path):
            return []
        return [
            st.getPath().getName() for st in self.fs.listStatus(self._Path(path))
        ]

    def list_status(self, path: str) -> list[tuple[str, int]]:
        """(name, size-in-bytes) per entry — size-tiered compaction picks
        its merge set from these."""
        if not self.exists(path):
            return []
        return [
            (st.getPath().getName(), int(st.getLen()))
            for st in self.fs.listStatus(self._Path(path))
        ]

    def dir_size(self, path: str) -> int:
        """Total bytes under a directory (recursive) — segment sizing for
        the tiered merge policy."""
        if not self.exists(path):
            return 0
        return int(self.fs.getContentSummary(self._Path(path)).getLength())

    def write_text(self, path: str, text: str) -> None:
        """Write a small text file ATOMICALLY (write side file, rename in):
        journal/marker content must be all-or-nothing — a half-written
        recovery journal is worse than none."""
        tmp = path + ".tmp"
        self.delete(tmp)
        out = self.fs.create(self._Path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self.delete(path)
        if not self.rename(tmp, path):
            raise OSError(f"could not install {path}")

    def read_text(self, path: str) -> str:
        inp = self.fs.open(self._Path(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
            )
        finally:
            inp.close()

    def rename(self, src: str, dst: str) -> bool:
        return bool(self.fs.rename(self._Path(src), self._Path(dst)))

    def delete(self, path: str) -> None:
        if self.exists(path):
            self.fs.delete(self._Path(path), True)

    def create_new(self, path: str) -> bool:
        """Create-if-absent (FileSystem.createNewFile) — the lock
        primitive. Returns False when the file already exists.

        ATOMIC on HDFS and local filesystems only. Object stores have no
        atomic create-if-absent (S3A emulates it with a HEAD-then-PUT
        race), so on s3a:// two writers can both "acquire" the lock —
        the store's single-writer guarantee holds only on filesystems
        with atomic create; concurrent writers on an object store need a
        table format with a transaction log (Delta/Iceberg-style)
        instead of this marker file."""
        return bool(self.fs.createNewFile(self._Path(path)))


class StoreLockedError(RuntimeError):
    """Another writer holds the store's lock marker."""


class _writer_lock:
    """Lock marker guarding the write path (reference
    ``storage_provider.go:36-246`` holds a storage lock for the same
    reason: one writer owns the segment sequence). Context manager:
    atomically creates ``<store>/_lock``; raises :class:`StoreLockedError`
    if present. A crashed writer leaves the marker behind — call
    ``DocumentStore.force_unlock()`` after confirming no writer is live."""

    def __init__(self, fs: _FS, lock_path: str, op: str):
        self._fs = fs
        self._path = lock_path
        self._op = op

    def __enter__(self):
        if not self._fs.create_new(self._path):
            raise StoreLockedError(
                f"{self._op}: writer lock {self._path} is held — another "
                "append/delete/compact is in progress (or crashed; "
                "force_unlock() after confirming no writer is live)"
            )
        return self

    def __exit__(self, *exc):
        self._fs.delete(self._path)
        return False


def _committed_parts(fs: _FS, d: str) -> list[str]:
    """Paths of the committed, non-empty ``part-*.parquet`` files directly
    under ``d`` — the one listing both delete vectors (this store's
    ``_deletes``, a BM25 index's ``deletes``) are read through. A
    directory with none of them (never written, a write job that
    crashed before its commit, a compact that cleared it) IS the
    no-deletes state; a directory-level ``spark.read.parquet`` would
    instead refuse to infer a schema from it, or log that every path was
    ignored. A read error on real committed files still propagates:
    silently dropping those would resurrect deleted rows."""
    return [
        f"{d}/{n}" for n, sz in fs.list_status(d)
        if n.startswith("part-") and n.endswith(".parquet") and sz > 0
    ]


def _swap_paths(cur: str) -> tuple[str, str, str]:
    """(side dir, aside dir, journal) of a :func:`_swap_dir` on ``cur``."""
    return cur + ".compacting", cur + ".old", cur + ".tiermove"


def _swap_dir(fs: _FS, cur: str, keep: list[str], write_side) -> None:
    """Replace directory ``cur`` crash-safely (protocol: module
    docstring). ``write_side(side_path)`` writes the replacement for
    every entry NOT named in ``keep``; the ``keep`` entries (names
    directly under ``cur``) move across by rename, so the rewrite cost
    is the replaced entries, never the kept bulk. ``keep=[]`` is a full
    rewrite. Callers hold the owner's writer lock (or are the
    directory's only writer)."""
    import json

    tmp, old, journal = _swap_paths(cur)
    _heal_dir(fs, cur)  # never drop a crashed predecessor's only copy
    write_side(tmp)
    clash = set(fs.listdir(tmp)) & set(keep)
    if clash:  # write-UUID collision — effectively impossible, but the
        fs.delete(tmp)  # rename-in below must never clobber a kept entry
        raise OSError(f"swap: replacement-entry name collision {sorted(clash)}")
    fs.write_text(journal, json.dumps({"keep": keep}))
    if not fs.rename(cur, old):
        fs.delete(tmp)
        fs.delete(journal)
        raise OSError(f"swap: could not move {cur} aside")
    # from here on, a crash is COMPLETED (not aborted) by the heal
    for n in keep:
        if not fs.rename(f"{old}/{n}", f"{tmp}/{n}"):
            raise OSError(
                f"swap: could not move {n} — the next write path's heal "
                "completes the interrupted swap"
            )
    if not fs.rename(tmp, cur):
        raise OSError(
            f"swap: could not install {tmp} — the next write path's heal "
            "completes the interrupted swap"
        )
    fs.delete(old)
    fs.delete(journal)


def _heal_dir(fs: _FS, cur: str) -> None:
    """Resolve whatever a crashed :func:`_swap_dir` left of ``cur``
    (abort, complete or drop a stale ``.old`` — see the module
    docstring). Callers hold the lock :func:`_swap_dir` requires."""
    import json

    tmp, old, journal = _swap_paths(cur)
    if fs.exists(journal):
        if not fs.exists(cur):  # crashed mid-move: complete the swap
            if not fs.exists(tmp):
                raise OSError(
                    f"swap recovery: {cur} and {tmp} both missing with "
                    f"journal present — restore {old} manually"
                )
            for n in json.loads(fs.read_text(journal))["keep"]:
                if fs.exists(f"{old}/{n}") and not fs.rename(
                    f"{old}/{n}", f"{tmp}/{n}"
                ):
                    raise OSError(f"swap recovery: could not move {n}")
            if not fs.rename(tmp, cur):
                raise OSError(f"swap recovery: could not install {tmp}")
        # cur present: nothing moved yet (the side dir only duplicates
        # live entries — abort) or already installed (.old is stale)
    elif fs.exists(old) and not fs.exists(cur):
        if not fs.rename(old, cur):
            raise OSError(f"swap recovery: could not restore {old}")
    # a stale .old must go promptly: a later heal after an unrelated
    # crash could otherwise "restore" it over live data
    fs.delete(tmp)
    fs.delete(old)
    fs.delete(journal)


# shared size-tier constants (one source of truth for the policy function
# AND the store's contiguous-run variant of it)
_TIER_RATIO = 4
_TIER_MIN_UNIFORM = 4  # STCS min-threshold; must be >= _TIER_RATIO for the
#                        class-promotion invariant (_size_class docstring)
_TIER_CAP = 64 << 20  # below: largest-relative tiers; above: absolute ladder
_TIER_LADDER_MAX = 1 << 30  # at/above: terminal files, full compact only


def _size_class(
    size: int, *, ratio: int | None = None, cap: int | None = None
) -> int:
    """Absolute size class of an at-or-above-cap file: class ``c`` holds
    sizes in ``[cap·ratio^c, cap·ratio^(c+1))`` — merging ``ratio`` files
    of class ``c`` lands exactly in class ``c+1``, so a merge output can
    never rejoin its inputs' class (the no-rewrite-forever invariant the
    above-cap ladder rests on). Defaults resolve to the module tier
    constants AT CALL TIME (tests drive the ladder with tiny files by
    patching them)."""
    ratio = _TIER_RATIO if ratio is None else ratio
    cap = _TIER_CAP if cap is None else cap
    if size < cap:
        return -1
    # integer ladder walk, NOT float logs: log-division misclassifies
    # exact boundaries (e.g. cap·ratio³ lands in class 2), and a merge
    # output of exactly cap·ratio^(c+1) bytes would then rejoin class c —
    # the precise pathology the invariant above forbids
    c, bound = 0, cap * ratio
    while size >= bound:
        c += 1
        bound *= ratio
    return c


def _pick_tier_merge(
    files: list[tuple[str, int]], *, ratio: int | None = None,
    min_uniform: int | None = None,
    consolidate_max_bytes: int | None = None,
    ladder_max_bytes: int | None = None,
) -> tuple[list[str], list[list[str]]]:
    """Size-tier selection for one merge group: ``(kept, merge_sets)`` —
    each set in ``merge_sets`` consolidates into its OWN output (one
    file), so a single pass can emit several merged files.

    BELOW ``consolidate_max_bytes`` (young group): the TOP tier — every
    file within ``ratio``× of the group's largest — is base data and
    moves by rename; everything below it merges as one set (when at
    least two such files exist; a lone straggler waits for company). A
    merged output below the top tier is re-merged with newer arrivals
    until it grows within ``ratio``× of the largest and joins the base
    tier, so per-boundary rewrite is bounded by ~largest/ratio. Once
    ``min_uniform`` top-tier files accumulate (equal streaming batches,
    or promoted merge outputs reaching the base — the STCS
    min-threshold), the WHOLE group consolidates: the ladder's epoch
    step; the promotion threshold then grows with the new largest file,
    so each byte is rewritten O(log) times over the group's life.

    AT/ABOVE the cap the epoch step would be a rewrite-forever
    pathology for a table whose full compact already emits several
    target-sized files, so the group switches to an ABSOLUTE size-class
    ladder (within-tier merging — VERDICT r07 #3): files below the cap
    merge as the tail set (≥2), and each class (see :func:`_size_class`)
    that accumulates ``min_uniform`` members merges into one output that
    lands in the NEXT class — never back into its own, because
    ``min_uniform >= ratio`` makes the output at least ``cap·ratio^(c+1)``
    INPUT bytes. File counts stay bounded (≤ ``min_uniform-1`` per class
    + one tail straggler) with O(log) write amplification and NO full
    compact needed. Files at/above ``ladder_max_bytes`` are terminal:
    healthy target-sized segments that only a full compact touches
    (keeps the single-task merge write bounded).

    The promotion invariant is proven on SUMS of input sizes; the
    amplification bound additionally assumes output bytes ≈ input bytes.
    A merged parquet that RE-ENCODES below ``cap·ratio^(c+1)`` (better
    compression, or store head-runs dropping superseded rows) lands back
    in its inputs' class and re-merges when that class refills — safe
    (each re-merge needs ``min_uniform-1`` FRESH same-class files, so
    there is no rewrite loop and file counts stay bounded), but the
    re-encode factor multiplies into the O(log) write-amplification
    constant (ADVICE r08). The policy is a pure function of observed
    sizes — it carries no per-file provenance — so the bound is stated
    with that assumption rather than patched with remembered input
    sums."""
    ratio = _TIER_RATIO if ratio is None else ratio
    min_uniform = _TIER_MIN_UNIFORM if min_uniform is None else min_uniform
    cap = _TIER_CAP if consolidate_max_bytes is None else consolidate_max_bytes
    ladder_max_bytes = (
        _TIER_LADDER_MAX if ladder_max_bytes is None else ladder_max_bytes
    )
    if len(files) < 2:
        return [n for n, _ in files], []
    mx = max(s for _, s in files)
    if mx < cap:
        kept = [n for n, s in files if s >= mx / ratio]
        small = [n for n, s in files if s < mx / ratio]
        if len(kept) >= min_uniform:
            return [], [[n for n, _ in files]]  # epoch/uniform consolidation
        if len(small) >= 2:
            return kept, [small]
        return [n for n, _ in files], []
    kept, sets = [], []
    classes: dict[int, list[str]] = {}
    tail = []
    for n, s in files:
        if s >= ladder_max_bytes:
            kept.append(n)  # terminal
        elif s < cap:
            tail.append(n)
        else:
            classes.setdefault(_size_class(s, ratio=ratio, cap=cap), []).append(n)
    if len(tail) >= 2:
        sets.append(tail)
    else:
        kept.extend(tail)
    for c in sorted(classes):
        if len(classes[c]) >= min_uniform:
            sets.append(classes[c])
        else:
            kept.extend(classes[c])
    return kept, sets


class DocumentStore:
    """LSM-style parquet document store (see module docstring for the
    architecture).

    Reserved column names: ``segment`` and ``__seq`` (the store's own
    sequencing), plus — on any store maintained via
    ``compact(recluster=...)`` — the ANN layout columns ``cluster_id``
    and ``codes``: compaction drops both before the recluster hook runs
    so a column persists only if the hook regenerated it, unless the
    caller opts a still-valid one out with ``keep_layout_cols`` (see
    :meth:`compact`). Payload columns must not reuse these names."""

    def __init__(self, spark: SparkSession, path: str, id_col: str = "id"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.data_path = f"{path}/data"
        self.deletes_path = f"{path}/_deletes"
        self.lock_path = f"{path}/_lock"
        self._fs = _FS(spark, path)

    def _lock(self, op: str) -> _writer_lock:
        return _writer_lock(self._fs, self.lock_path, op)

    def force_unlock(self) -> None:
        """Remove a stale writer lock left by a crashed writer."""
        self._fs.delete(self.lock_path)

    # -- write path ----------------------------------------------------------

    def _segment_ids(self) -> list[int]:
        return sorted(
            int(d.split("=")[1])
            for d in self._fs.listdir(self.data_path)
            if d.startswith("segment=")
        )

    def _next_segment(self) -> int:
        segs = self._segment_ids()
        return segs[-1] + 1 if segs else 0

    def append(self, batch: DataFrame, *, seq_col: str | None = None) -> int:
        """Write one immutable segment (memtable flush, J1-J3).

        ``__seq`` makes newest-wins a TOTAL order even when one batch
        carries the same id twice. By default it derives from
        ``monotonically_increasing_id``, which is total but
        partition-arbitrary: WHICH duplicate wins within one
        multi-partition batch depends on partition layout, not row order.
        Callers that need a deterministic intra-batch winner pass
        ``seq_col`` — an existing numeric column where larger means newer
        (an event time, an explicit version) — and ``__seq`` is taken
        from it directly (no shuffle, no global sort)."""
        with self._lock("append"):
            # heal first: on a data dir missing mid-swap the append would
            # start a fresh segment=0 and orphan every earlier row
            _heal_dir(self._fs, self.data_path)
            # segment number MUST be computed inside the lock: reading it
            # before would let two writers race to the same number (the
            # lock exists to protect exactly this sequence)
            seg = self._next_segment()
            out = batch.withColumn("segment", F.lit(seg))
            if seq_col is not None:
                out = out.withColumn("__seq", F.col(seq_col).cast("bigint"))
            else:
                out = out.withColumn("__seq", F.monotonically_increasing_id())
            out.write.mode("append").partitionBy("segment").parquet(self.data_path)
        return seg

    def delete(self, ids: DataFrame) -> None:
        """Soft delete (J6), sequenced: hides versions in segments written
        BEFORE this call; a later re-append of the same id is visible."""
        with self._lock("delete"):
            _heal_dir(self._fs, self.data_path)
            # watermark computed inside the lock — a stale read would
            # nondeterministically include/exclude a concurrent segment
            upto = self._next_segment()
            ids.select(
                F.col(self.id_col), F.lit(upto).cast("bigint").alias("upto")
            ).write.mode("append").parquet(self.deletes_path)

    # -- read path -----------------------------------------------------------

    def _segments(self) -> DataFrame:
        if not self._fs.exists(self.data_path):
            raise FileNotFoundError(
                f"store at {self.path} has no segments yet — append() first"
            )
        # mergeSchema: schema must come from ALL files, not whichever file
        # the reader samples first — segments can carry different columns
        # (layout columns a compact(recluster=...) added, batches appended
        # without a vector column), and any of them may be sampled first
        return (
            self.spark.read.option("basePath", self.data_path)
            .option("mergeSchema", "true")
            .parquet(self.data_path)
        )

    def _deletes(self) -> DataFrame | None:
        parts = _committed_parts(self._fs, self.deletes_path)
        return self.spark.read.parquet(*parts) if parts else None

    def _merged_view(self, df: DataFrame) -> DataFrame:
        """Newest-(segment, __seq)-wins per id + delete-watermark filter
        over an arbitrary set of segments (keeps the ``segment`` column).
        ``read()`` applies it to every segment; the tiered compact
        applies it to just the small tail it merges — the filter
        semantics are identical by construction because this IS the read
        path's code."""
        w = Window.partitionBy(self.id_col).orderBy(
            F.col("segment").desc(), F.col("__seq").desc()
        )
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        dels = self._deletes()
        if dels is not None:
            dmax = dels.groupBy(self.id_col).agg(F.max("upto").alias("__upto"))
            df = (
                df.join(dmax, self.id_col, "left")
                .filter(
                    F.col("__upto").isNull() | (F.col("segment") >= F.col("__upto"))
                )
                .drop("__upto")
            )
        return df

    def read(self) -> DataFrame:
        """Merged view (J5): newest (segment, __seq) wins per id; the
        survivor is hidden only if a delete watermark postdates it."""
        return self._merged_view(self._segments()).drop("segment")

    # -- maintenance ---------------------------------------------------------

    def compact(
        self, *, zorder_by: list[str] | None = None, zorder_bits: int = 8,
        zorder_files: int | None = None, recluster=None,
        recluster_vec_col: str = "vector", keep_layout_cols: list[str] | None = None,
        tiered: bool = False,
    ) -> None:
        """Rewrite all segments into one, applying deletes (hard delete) and
        version dedup — the OPTIMIZE-style job (J4). The rewrite installs
        with :func:`_swap_dir` (crash states: module docstring), healed
        by every write path at entry. Only the delete files that were
        actually applied are removed.

        ``zorder_by`` (OPTIMIZE ZORDER): cluster the rewritten segment by
        the Morton interleave of the named non-negative integer columns
        (operators/layout.py) — range-partition + sort-within on the
        Z-key, so parquet row-group min/max stays bounded in EVERY listed
        dimension and predicates on any of them skip files. Compaction is
        exactly when a 100 TB store pays this one-time sort.
        ``zorder_files`` caps the output file count (default ~1M rows per
        file) — without it, repartitionByRange would emit
        spark.sql.shuffle.partitions tiny files and re-fragment the
        segment compaction just coalesced.

        ``recluster`` (ANN layout maintenance): any object with an
        ``assign_inplace(df, vec_col=...)`` method (IVF: fresh
        ``cluster_id``) or an ``encode_inplace(df, vec_col=...)`` method
        (PQ: fresh ``codes``; IVFPQ: both), each preserving every other
        column — typically an index refreshed on the current corpus via
        its ``refresh`` method. The merged view is
        re-assigned during the rewrite (stale ``cluster_id`` dropped
        first), and — unless ``zorder_by`` overrides the layout — the
        rewritten files are co-located and sorted by ``cluster_id``, so
        parquet min/max stats keep nprobe pruning honest on a corpus
        that drifted since training. Compaction is exactly when a
        100 TB store pays this re-assignment: it is one extra projection
        inside a rewrite that is already reading and writing every
        surviving row.

        ``cluster_id`` and ``codes`` are RESERVED layout columns on any
        store that uses ``recluster`` (see the class docstring): both
        are dropped before the hook runs, so a column survives the
        rewrite only if THIS hook regenerated it — a codes-only PQ
        refresh cannot persist a superseded ingest-time assignment as
        if fresh, and vice versa. When two INDEPENDENT indexes share
        the store (e.g. plain-PQ ``codes`` encoded against standalone
        codebooks, plus an IVF ``cluster_id`` being refreshed here),
        pass the still-valid column in ``keep_layout_cols`` to opt it
        out of the drop — the caller is asserting this hook's refresh
        does not supersede it (an IVF centroid refresh says nothing
        about non-residual PQ codebooks).

        ``tiered=True`` (LSM size tiers): instead of rewriting every
        segment, merge only the small tail — the contiguous run of
        segments newer than the last TOP-TIER segment (within 4× of the
        largest on disk; exactly what appends accumulate after the last
        full compact) — into one segment stamped with the tail's
        highest number; the big base segments move across by RENAME. A
        merged tail is re-merged with newer appends until it grows into
        the top tier and joins the base, bounding per-boundary rewrite
        by ~largest/4; a UNIFORM store (all segments comparable, e.g.
        equal streaming batches) consolidates whole once it holds ≥4
        segments (STCS min-threshold). Newest-wins dedup and pending
        delete watermarks are applied to the merged tail THROUGH the
        read path's own code (:meth:`_merged_view`), but the delete
        FILES are retained: they still gate ids in the untouched base
        segments (the next full compact applies and removes them). The
        suffix rule is load-bearing — a kept segment interleaved below
        merged ones would lose newest-wins ties it originally won.
        ``recluster``/``zorder_by`` apply to the
        merged tail only (e.g. assign freshly-ingested rows into the
        EXISTING layout — pass the as-trained index, not a refreshed
        one, so tail and base agree); with fewer than two tail
        segments this is a no-op. The merged tail installs with
        :func:`_swap_dir`, the base segments as its ``keep`` entries."""
        bad = set(keep_layout_cols or []) - {"cluster_id", "codes"}
        if bad:
            # a typo here would silently drop the column the caller asked
            # to preserve — fail loud instead
            raise ValueError(
                f"keep_layout_cols: {sorted(bad)} not in the reserved layout "
                "set {'cluster_id', 'codes'}"
            )
        with self._lock("compact"):
            _heal_dir(self._fs, self.data_path)
            if tiered:
                self._compact_tiered_locked(
                    zorder_by=zorder_by, zorder_bits=zorder_bits,
                    zorder_files=zorder_files, recluster=recluster,
                    recluster_vec_col=recluster_vec_col,
                    keep_layout_cols=keep_layout_cols,
                )
                return
            applied_delete_files = self._fs.listdir(self.deletes_path)
            segs = self._segment_ids()
            keep_seg = segs[-1] if segs else 0
            merged = self.read().cache()
            n_rows = merged.count()  # materialize before touching sources
            # the compacted segment KEEPS the highest segment number:
            # pending deletes are sequenced by segment watermark, so
            # renumbering to 0 would make a mid-compaction delete hide
            # future appends. The compacted rows are all distinct ids, so
            # a uniform __seq=0 is a valid restart of the within-segment
            # order — and keeps the column in the file schema so later
            # appends' __seq survives schema inference.
            out = merged.withColumn("segment", F.lit(keep_seg)).withColumn(
                "__seq", F.lit(0).cast("bigint")
            )
            out = self._layout_rewrite(
                out, n_rows, zorder_by=zorder_by, zorder_bits=zorder_bits,
                zorder_files=zorder_files, recluster=recluster,
                recluster_vec_col=recluster_vec_col,
                keep_layout_cols=keep_layout_cols,
            )
            _swap_dir(
                self._fs, self.data_path, [],
                lambda tmp: out.write.mode("overwrite")
                .partitionBy("segment").parquet(tmp),
            )
            merged.unpersist()
            # drop only the deletes this compaction applied — a delete()
            # issued mid-compaction stays pending for the next
            # read/compaction (the lock blocks writers, so none can land
            # mid-compaction in the locked flow; the file accounting keeps
            # this correct even if force_unlock raced)
            for name in applied_delete_files:
                self._fs.delete(f"{self.deletes_path}/{name}")

    def _layout_rewrite(
        self, out: DataFrame, n_rows: int, *, zorder_by, zorder_bits,
        zorder_files, recluster, recluster_vec_col, keep_layout_cols,
    ) -> DataFrame:
        """The compaction rewrite's layout hooks, shared by the full and
        tiered paths (each passes the rows IT is rewriting). EVERY branch
        bounds the output file count: when neither zorder nor a cluster
        hook repartitions, the default branch bin-packs to ~1M rows per
        file — without it the write inherits the merged view's shuffle
        partitioning (pinned by the pre-write cache, so AQE cannot
        coalesce it) and a KB-sized merged segment lands as hundreds of
        near-empty part files, re-fragmenting exactly what the compact
        consolidated (caught by the real-file ladder soak, r09)."""
        repartitioned = False
        if recluster is not None:
            # assign_inplace (IVF: cluster_id) or encode_inplace
            # (PQ: codes; IVFPQ: cluster_id + residual codes)
            hook = getattr(recluster, "assign_inplace", None) or getattr(
                recluster, "encode_inplace"
            )
            # pre-existing cluster_id / codes are LAYOUT columns owned
            # by whatever index wrote them at ingest; a hook that does
            # not regenerate one of them (a codes-only PQ refresh
            # leaves cluster_id stale, an assignment-only IVF refresh
            # leaves codes encoded against superseded codebooks) must
            # not let the rewrite persist it as if fresh — or, for
            # cluster_id, co-locate/sort by it. Drop both first:
            # below, a layout column is present iff THIS hook produced
            # it — unless the caller opted a column out via
            # keep_layout_cols, asserting an independent index owns it
            # and this refresh does not supersede it.
            dropped = [
                c for c in ("cluster_id", "codes")
                if c not in (keep_layout_cols or [])
            ]
            out = out.drop(*dropped)
            out = hook(out, vec_col=recluster_vec_col)
            if not zorder_by and "cluster_id" in out.columns:
                # co-locate + sort by the fresh assignment so parquet
                # min/max stats on cluster_id skip files under nprobe
                nf = zorder_files or max(1, -(-n_rows // 1_000_000))
                out = out.repartition(nf, "cluster_id").sortWithinPartitions(
                    "cluster_id"
                )
                repartitioned = True
        if zorder_by:
            from comet_spark.operators.layout import zorder_key

            zk = zorder_key([F.col(c) for c in zorder_by], bits=zorder_bits)
            nf = zorder_files or max(1, -(-n_rows // 1_000_000))
            out = (
                out.withColumn("__zk", zk)
                .repartitionByRange(nf, "__zk")
                .sortWithinPartitions("__zk")
                .drop("__zk")
            )
            repartitioned = True
        if not repartitioned:
            # plain rewrite: round-robin bin-pack to the target file
            # count — the standard OPTIMIZE shape (one extra shuffle of
            # rows the compact already reads and writes)
            nf = zorder_files or max(1, -(-n_rows // 1_000_000))
            out = out.repartition(nf)
        return out

    def _compact_tiered_locked(
        self, *, zorder_by, zorder_bits, zorder_files, recluster,
        recluster_vec_col, keep_layout_cols,
    ) -> None:
        """The size-tiered merge (see :meth:`compact` ``tiered=True``).
        Caller holds the lock and has healed crashed swaps."""
        segs = self._segment_ids()
        sizes = {
            s: self._fs.dir_size(f"{self.data_path}/segment={s}") for s in segs
        }
        if not sizes:
            return
        # contiguity-safe tier selection: the THRESHOLD decision is the
        # shared policy (_pick_tier_merge — top tier protected, uniform
        # stores consolidate whole at the STCS min-threshold), then the
        # merge set is clamped to the contiguous suffix of segments
        # newer than the last kept one. The suffix rule is
        # load-bearing: a kept segment interleaved below merged ones
        # would lose newest-wins ties it originally won — a sub-tier
        # segment stranded between top-tier ones therefore stays until
        # a full compact. A merged tail is re-merged with newer appends
        # until it grows into the top tier and joins the base, bounding
        # per-boundary rewrite by ~largest/4.
        kept_segs, _sets = _pick_tier_merge(
            [(str(s), sizes[s]) for s in segs]
        )
        if kept_segs:
            last_kept = max(int(n) for n in kept_segs)
            tail = [s for s in segs if s > last_kept]
        else:
            tail = list(segs)  # uniform store: consolidate everything
        # merge groups: the contiguous suffix (above) PLUS — within-tier
        # merging, VERDICT r07 #3 — every maximal CONTIGUOUS run of
        # same-size-class head segments (above the consolidation cap,
        # below the ladder terminal) that reaches the STCS min-threshold.
        # A contiguous run collapses into its own NEWEST segment id, so
        # segment ordering (and with it every newest-wins tie and delete
        # watermark comparison) is preserved: rows inside the run resolve
        # through _merged_view at merge time, rows outside keep their
        # relative position. Each run's merge output lands in the next
        # size class (min_uniform ≥ ratio), so it can never re-merge with
        # its inputs' class — head file counts stay bounded without a
        # full compact, the same ladder the BM25 postings use.
        groups: list[list[int]] = []
        if len(tail) >= 2:
            groups.append(tail)
        head = [s for s in segs if s not in set(tail)]
        run: list[int] = []
        run_class: int | None = None

        def _flush() -> None:
            if run_class is not None and len(run) >= _TIER_MIN_UNIFORM:
                groups.append(list(run))

        for s in head:
            c: int | None = _size_class(sizes[s])
            if c < 0 or sizes[s] >= _TIER_LADDER_MAX:
                c = None  # below-cap straggler or terminal: breaks the run
            if c != run_class:
                _flush()
                run, run_class = [], c
            if c is not None:
                run.append(s)
        _flush()
        if not groups:
            return  # nothing worth merging
        outs, merged_segs, cached = [], [], []
        try:
            for grp in groups:
                subset = (
                    self.spark.read.option("basePath", self.data_path)
                    .option("mergeSchema", "true")
                    .parquet(*[f"{self.data_path}/segment={s}" for s in grp])
                )
                out = (
                    self._merged_view(subset)
                    .withColumn("segment", F.lit(grp[-1]))
                    .withColumn("__seq", F.lit(0).cast("bigint"))
                    .cache()
                )
                cached.append(out)
                n_rows = out.count()  # materialize before touching sources
                if n_rows == 0:
                    # every row is superseded or delete-hidden. Skip this
                    # group: writing an EMPTY merged segment would erase
                    # its segment numbers from the listing, and a future
                    # append reusing one could be wrongly hidden by a
                    # pending delete watermark issued above it (tiered
                    # keeps delete files). The hidden rows cost storage
                    # until a full compact, which is also what removes
                    # the delete files.
                    continue
                outs.append(
                    self._layout_rewrite(
                        out, n_rows, zorder_by=zorder_by,
                        zorder_bits=zorder_bits, zorder_files=zorder_files,
                        recluster=recluster,
                        recluster_vec_col=recluster_vec_col,
                        keep_layout_cols=keep_layout_cols,
                    )
                )
                merged_segs.extend(grp)
            if not outs:
                return
            union = outs[0]
            for o in outs[1:]:
                # allowMissingColumns: merge groups can straddle a schema
                # evolution (an old-segment class run vs a new-segment
                # tail) — absent columns null-fill, exactly like the
                # mergeSchema read path the store already guarantees
                union = union.unionByName(o, allowMissingColumns=True)
            kept_dirs = [
                f"segment={s}" for s in segs if s not in set(merged_segs)
            ]

            def _write_side(tmp: str) -> None:
                union.write.mode("overwrite").partitionBy("segment").parquet(tmp)

            _swap_dir(self._fs, self.data_path, kept_dirs, _write_side)
        finally:
            for o in cached:
                o.unpersist()

    def segment_count(self) -> int:
        return len(self._segment_ids())
