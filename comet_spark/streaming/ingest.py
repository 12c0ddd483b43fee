"""Structured Streaming ingest into a DocumentStore (J1-J3).

The reference's write path is a size-triggered memtable rotation + flush
worker (``storage.go:632-819``); in Spark the micro-batch boundary *is* the
rotation, and ``foreachBatch`` appending one segment per batch is the flush.
Watermark + windowed aggregation utilities cover the event-time side the
reference lacks (SURVEY.md §2.J notes comet has no event-time semantics —
these are the Spark-native extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from comet_spark.session import local_frame
from comet_spark.storage.store import DocumentStore

__all__ = [
    "stream_into_store",
    "ivf_ingest_stream",
    "ivf_serving_view",
    "doc_ingest_stream",
    "doc_serving_views",
    "pq_ingest_stream",
    "pq_serving_view",
    "ivfpq_ingest_stream",
    "ivfpq_serving_view",
    "gc_index_versions",
    "hnsw_ingest_stream",
    "hnsw_serving_view",
    "bm25_ingest",
    "bm25_ingest_stream",
    "windowed_event_counts",
    "sessionize_stream",
    "dedup_stream",
    "neardup_ingest",
    "neardup_ingest_stream",
    "compact_sig_store",
    "pin_eval_shingles",
    "decontam_ingest",
    "decontam_ingest_stream",
    "hll_stream",
    "cms_stream",
    "cms_stream_counters",
]


def stream_into_store(
    stream: DataFrame,
    store: DocumentStore,
    *,
    checkpoint: str,
    trigger_available_now: bool = True,
    op_col: str | None = None,
    delete_value: str = "delete",
) -> StreamingQuery:
    """foreachBatch → one immutable segment per micro-batch. The stream
    is the store's single writer; a hard crash mid-append leaves the
    store's ``_lock`` marker behind, so the first batch after a
    (re)start clears it — a marker present then can only belong to this
    stream's crashed predecessor (don't point a second writer at the
    store; that is already the store's contract). A batch replayed
    after a crash can land one duplicate segment — benign under the
    newest-wins read and removed by compaction; it is NOT skipped via
    an id probe because this stream legitimately carries upserts (same
    ids, new payloads), which an id match cannot distinguish from a
    replay. :func:`bm25_ingest_stream`, whose contract requires fresh
    ids, does make that skip.

    ``op_col`` closes the CRUD × streaming matrix (reference ``Remove``
    rides the same write path as Add/Update, ``storage.go``): when set,
    rows whose ``op_col`` equals ``delete_value`` are DELETE MARKERS —
    only their id is read — NULL ``op_col`` rows are inserts/upserts,
    and any OTHER value fails the micro-batch loudly (a typo'd marker
    appended as data would shadow the live document with its NULL
    payload under newest-wins — destruction, not a skip). BEHAVIOR
    CHANGE (r12, via the shared :func:`_split_ops` contract): a
    micro-batch containing NULL-id rows now fails the WHOLE batch
    loudly — previously a NULL-id upsert was appended as an
    unaddressable row and a NULL-id delete was a harmless no-op; a
    producer relying on that tolerance must filter NULL ids before the
    sink (no in-tree producer did). Per micro-batch the upserts land as one
    segment FIRST, then the markers apply as one sequenced soft delete
    (:meth:`DocumentStore.delete`): a batch carrying both an upsert and
    a delete of the same id deletes it (delete wins within a batch),
    while a LATER batch's re-append resurrects it — the store's
    segment-watermark rule, unchanged. Crash replay stays safe by the
    same sequencing: the replayed batch re-appends a duplicate segment
    and re-issues its delete with a fresh (higher) watermark, which
    covers the duplicate too; with availableNow/sequential triggers no
    later batch can run before the replay, so the re-stamped watermark
    never hides rows a later batch appended."""
    first = [True]

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if first[0]:
            store.force_unlock()
            first[0] = False
        if op_col is None:
            store.append(batch)
            return
        batch = batch.persist()  # all splits scan the batch once each
        try:
            ups, del_ids, n_ups, n_del = _split_ops(
                batch, op_col, delete_value, store.id_col, "stream_into_store"
            )
            if n_ups:
                store.append(ups)
            if n_del:
                store.delete(del_ids)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _split_ops(
    batch: DataFrame, op_col: str, delete_value: str, id_col: str, who: str,
    *, forbid_dup_upserts: bool = False,
    reject_null_payload_col: str | None = None,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Validate + partition one (persisted) CRUD micro-batch into
    ``(upserts, delete_ids, n_ups, n_del)`` — the shared op contract of
    every ``op_col`` stream. An unrecognized non-null op (op='DELETE', a
    typo, or a whole mistyped column whose comparison to delete_value is
    NULL) must fail LOUDLY: treating it as an upsert would append its
    NULL-payload marker row, which then SHADOWS the live document under
    newest-wins — data destruction, not a skip. The three predicates
    PARTITION the batch exactly — NULL op → upsert, op = delete_value
    (a true match, never a null comparison) → delete, anything else →
    bad — counted in ONE scan.

    ``reject_null_payload_col`` (the vector engines pass their
    ``vec_col``, ADVICE r12): an UPSERT whose payload column is NULL is
    as destructive as a typo'd op — it would append to the store as the
    id's newest version while the index's assign/encode step silently
    drops it (NULL vectors don't cluster), leaving the serving view
    stuck on the stale pre-upsert vector while ``store.read()`` serves
    the NULL row, and after the next retrain the id vanishes from the
    layout but stays live in the store. Fail the micro-batch loudly
    instead, mirroring the NULL-id check. Delete markers legitimately
    carry a NULL payload (only their id is read), so the check covers
    upsert rows only."""
    is_del = F.coalesce(F.col(op_col) == F.lit(delete_value), F.lit(False))
    is_bad = F.col(op_col).isNotNull() & ~is_del
    aggs = [
        F.count(F.when(is_bad, 1)).alias("n_bad"),
        F.max(F.when(is_bad, F.col(op_col).cast("string"))).alias("bad_val"),
        F.count(F.when(is_del, 1)).alias("n_del"),
        F.count(F.when(F.col(op_col).isNull(), 1)).alias("n_ups"),
        F.count(F.when(F.col(id_col).isNull(), 1)).alias("n_null_ids"),
    ]
    if reject_null_payload_col is not None:
        aggs.append(
            F.count(
                F.when(
                    F.col(op_col).isNull()
                    & F.col(reject_null_payload_col).isNull(),
                    1,
                )
            ).alias("n_null_payload")
        )
    if forbid_dup_upserts:
        # a distinct hash-agg per row — only paid by callers that
        # enforce the check (review r12 pass 4)
        aggs.append(
            F.countDistinct(
                F.when(F.col(op_col).isNull(), F.col(id_col))
            ).alias("n_ups_ids")
        )
    probe = batch.agg(*aggs).first()
    if probe["n_bad"]:
        raise ValueError(
            f"{who}: unrecognized {op_col}={probe['bad_val']!r} "
            f"(expected NULL/upsert or {delete_value!r}) — failing the "
            "micro-batch rather than appending a marker row as data"
        )
    if probe["n_null_ids"]:
        # a NULL id is malformed in every op: a NULL-id upsert would
        # land as an unaddressable document, a NULL-id delete matches
        # nothing, and countDistinct skips NULLs so the dup check below
        # would misreport it as a duplicate (review r12 pass 3)
        raise ValueError(
            f"{who}: {probe['n_null_ids']} row(s) with NULL {id_col} — "
            "every op must carry an id; failing the micro-batch"
        )
    if reject_null_payload_col is not None and probe["n_null_payload"]:
        # an upsert with a NULL payload passes validation, lands in the
        # store as the id's newest version, then silently drops out of
        # the index assign/encode step — a store/serving divergence the
        # serving view can never detect (ADVICE r12)
        raise ValueError(
            f"{who}: {probe['n_null_payload']} upsert row(s) with NULL "
            f"{reject_null_payload_col} — a NULL-payload upsert would "
            "shadow the id's live document in the store while the index "
            "silently drops it; failing the micro-batch"
        )
    if forbid_dup_upserts and probe["n_ups"] != probe["n_ups_ids"]:
        # a micro-batch is an UNORDERED set: two upserts of the same id
        # in one batch have no defined winner, and the store's __seq
        # tiebreak is partition-arbitrary — a serving view resolving by
        # batch precedence could disagree with store.read() (review r12
        # pass 2). stream_into_store tolerates it (its merged view IS
        # the __seq order, documented); the index engines fail fast.
        raise ValueError(
            f"{who}: {probe['n_ups'] - probe['n_ups_ids']} duplicate "
            "upsert id(s) within one micro-batch — an unordered batch "
            "has no defined winner; send one upsert per id per batch"
        )
    return (
        batch.filter(F.col(op_col).isNull()).drop(op_col),
        batch.filter(is_del).select(id_col),
        probe["n_ups"],
        probe["n_del"],
    )


def _live_batches(fs, root: str, cur: int | None) -> list[str]:
    """Committed (``_SUCCESS``-gated) batch-numbered dirs under ``root``
    NEWER than the committed version ``cur`` — the shared reader-side
    listing of every serving view (review r12 pass 4: the listing lived
    three times, the same diverge hazard the writer-side
    :func:`_lineage_guard` extraction fixed). Torn dirs (no
    ``_SUCCESS``) are excluded: the stream's replay rewrites them, and
    components where exclusion would CHANGE semantics rather than serve
    an older consistent state (the IVF delete markers) run their own
    loud-fail check on top of this listing."""
    return sorted(
        (
            n
            for n in fs.listdir(root)
            if n.startswith("batch=")
            and (cur is None or int(n.split("=", 1)[1]) > cur)
            and fs.exists(f"{root}/{n}/_SUCCESS")
        ),
        key=lambda n: int(n.split("=", 1)[1]),
    )


def _ivf_current(fs, index_base: str) -> int | None:
    """The committed serving version = the MAX marker under
    ``_versions/``, or None before the first train commits. Version
    commits are marker-FILE creations (monotone, never deleted, max
    wins) rather than a rewritten pointer file: a pointer rewrite —
    even an 'atomic' side-file + rename — passes through a
    deleted-before-renamed window where a concurrent reader finds no
    pointer at all and misdiagnoses a long-serving index as never
    committed (review r11). Marker creation has no such window, and a
    marker's presence doubles as the refresh batch's done-record for
    crash-replay skip."""
    vers = [
        int(n) for n in fs.listdir(f"{index_base}/_versions") if n.isdigit()
    ]
    return max(vers) if vers else None


def _lineage_guard(fs, base: str, batch_id: int, who: str, subdirs) -> int | None:
    """Fresh-checkpoint fail-fast shared by the THREE versioned
    maintenance engines (review r12: the protocol lived three times and
    had already diverged — fixes must land once): compare the restart's
    first batch id against the newest state EVER written — the max
    committed version marker or any batch-numbered dir under
    ``subdirs`` (tails, graph parts, delete markers). Only a FRESH
    checkpoint pointed at an existing index can deliver a batch below
    that (a legit resume's first batch is the latest ever run); letting
    it through would hit a stale version marker (data silently skipped)
    or overwrite SERVED batch dirs with recycled ids. Returns the
    committed version so the caller can seed its closure cache without
    a second ``_versions`` listing."""
    boot_cur = _ivf_current(fs, base)
    batches = [boot_cur if boot_cur is not None else -1]
    for d in subdirs:
        batches += [
            int(n.split("=", 1)[1])
            for n in fs.listdir(f"{base}/{d}")
            if n.startswith("batch=")
        ]
    newest = max(batches)
    if batch_id < newest:
        raise RuntimeError(
            f"{who}: batch {batch_id} is below the newest written batch "
            f"{newest} under {base} — a fresh checkpoint was pointed at "
            "an existing index; resume with the original checkpoint, or "
            "delete the index base and store to re-ingest"
        )
    return boot_cur


def _skip_if_committed(fs, base: str, batch_id: int) -> bool:
    """The committed-version replay skip, shared: the marker is written
    LAST, so its presence proves the whole refresh landed — re-running
    would mutate a version directory readers are already pointed at
    (and re-append a pointless duplicate segment). Journals the skip
    (atomic create-if-absent) so the crash-replay is observable."""
    if fs.exists(f"{base}/_versions/{batch_id}"):
        fs.create_new(f"{base}/_skips/{batch_id}")
        return True
    return False


def _version_tripwire(fs, base: str, batch_id: int, who: str) -> None:
    """Second-writer tripwire, pre-mutation leg (post-hoc by nature —
    single-writer is the caller's contract): checked before the refresh
    mutates anything to shrink the damage window; the commit itself
    (:func:`_commit_version`) is the second leg."""
    if fs.exists(f"{base}/_versions/{batch_id}"):
        raise RuntimeError(
            f"{who}: version marker {batch_id} appeared under {base} — "
            "a second writer is committing versions"
        )


def _commit_version(fs, base: str, batch_id: int, who: str) -> None:
    """The version COMMIT: atomic CREATE of the monotone marker — never
    a pointer rewrite (see :func:`_ivf_current`). create_new returning
    False is the tripwire's second leg: another writer committed this
    version since the pre-check — the layout may already be damaged,
    but the stream dies loudly here instead of serving it."""
    if not fs.create_new(f"{base}/_versions/{batch_id}"):
        raise RuntimeError(
            f"{who}: version marker {batch_id} already exists under "
            f"{base} — a second writer is committing versions"
        )


def _crud_boot(fs, index_base: str, id_col: str, who: str) -> None:
    """First-batch CRUD declaration, shared by the CRUD-capable
    engines: record the LAYOUT's id column in ``_crud_meta`` — the
    name the serving view must window/join on. That is the stream's
    id_col for the IVF engine (assign_clusters PRESERVES it) but the
    canonical ``id`` for the codes engines (PQ/IVFPQ encode renames to
    bigint ``id`` — review r13 pass 1) — and create the ``_crud``
    marker (an atomic ``create_new``; only the meta files go through
    :func:`_record_once`) that
    opts the serving view into the newest-wins/anti-join plan. Meta
    BEFORE marker: a reader that sees the marker always finds the meta.
    Create-once + mismatch guard — restarting with a different id_col
    would desync the layout from the markers. The codes engines, whose
    layout name is always the canonical ``id``, additionally record the
    STREAM's id column (:func:`_record_once` on ``_stream_id_col``) so
    their restart guard still fires — two different source columns
    would interleave two id SPACES into one index even though the
    layout name matches (review r13 pass 2)."""
    _record_once(fs, f"{index_base}/_crud_meta", id_col, who, "id_col")
    fs.create_new(f"{index_base}/_crud")


def _record_once(fs, path: str, value: str, who: str, what: str) -> None:
    """Create-once + mismatch-fail-fast for a tiny text side-file — the
    restart-consistency guard shape used by ``_crud_meta`` and the
    codes engines' ``_stream_id_col``."""
    if fs.exists(path):
        prev = fs.read_text(path)
        if prev != value:
            raise RuntimeError(
                f"{who}: {what}={value!r} differs from the index's "
                f"recorded {prev!r} ({path}) — resume with the "
                f"original {what}, or delete the index base and store "
                "to re-ingest"
            )
    else:
        fs.write_text(path, value)


def _write_delete_marker(
    fs, index_base: str, batch_id: int, del_ids: DataFrame, id_col: str,
    with_tail: bool,
) -> None:
    """The read-path delete-marker partition, shared by the CRUD
    engines — TAIL batches only (a scheduled batch's deletes are baked
    by its retrain, and a with_tail=True marker for a tail that never
    lands would hard-fail serving for the whole retrain window — review
    r12 pass 3). Written BEFORE the tail dir, and ``with_tail`` records
    whether sibling upserts exist, so the serving view can fail loudly
    on the crash-between-the-two-writes window (pass 2).
    SKIP-IF-COMMITTED, never overwrite: a replay's overwrite passes
    through a dir-absent window where a concurrent reader sees no
    marker at all — neither torn-dir check can fire — while the
    original run's tail is still committed, silently un-applying the
    deletes (pass 4). The marker content is a pure function of the
    batch, so present-and-committed is a done-record. The id column
    keeps the stream's id_col name — the same name the layout carries
    and ``_crud_meta`` records."""
    marker = f"{index_base}/_deletes/batch={batch_id}"
    if not fs.exists(f"{marker}/_SUCCESS"):
        del_ids.select(id_col).withColumn(
            "with_tail", F.lit(bool(with_tail))
        ).repartition(1).write.mode("overwrite").parquet(marker)


def _demote_if_emptied(
    fs, store: DocumentStore, index_base: str, batch_id: int, cur,
    n_ups: int, n_del: int, *, journal: bool | None = None,
) -> bool:
    """Deletes can EMPTY the corpus: a scheduled retrain on zero rows
    would die — and the replay would die identically, a permanent crash
    loop (review r12 pass 4). Returns True when the scheduled refresh
    must DEMOTE to a tail batch, journaled so the missed cycle is
    observable; serving keeps the old version, whose rows the live
    markers already hide. The merged-view emptiness job runs ONLY when
    the corpus COULD be empty — a batch whose upserts landed with no
    deletes proves it is not (pass 6). A ``True`` with ``cur is None``
    means nothing ever landed — boot at next data (the caller returns
    without scheduling). ``journal`` overrides the journal-or-not
    default (``cur is not None``) for engines whose served state is not
    version-gated: the HNSW stream serves per-batch sub-graphs BEFORE
    any consolidation commits, so a pre-first-consolidation demote must
    still journal the missed cycle (review r13 pass 1)."""
    if not (n_del or not n_ups):
        return False
    if store._fs.exists(store.data_path) and not store.read().isEmpty():
        return False
    if journal is None:
        journal = cur is not None
    if journal:
        fs.create_new(f"{index_base}/_skips/empty_refresh_{batch_id}")
    return True


def ivf_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_base: str,
    *,
    checkpoint: str,
    nlist: int = 8,
    refresh_every: int = 0,
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "l2",
    op_col: str | None = None,
    delete_value: str = "delete",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """STREAM-WIRED ANN maintenance: the vector twin of
    :func:`bm25_ingest_stream` — the IVF serving layout stays searchable
    as segments flush, the reference's always-searchable persistent
    index (``storage.go:233-250``: Add lands in the memtable and is
    immediately visible to Search; ``ivf_index.go:206-235`` re-runs
    Train when the corpus drifts). Per micro-batch, ``foreachBatch``:

    1. appends the batch as one store segment (the durable corpus);
    2. on the FIRST batch ever (no committed version yet) — or every
       ``refresh_every`` batches when set — RETRAINS the centroids on
       the store's newest-wins merged view (data-fed-so-far), writes the
       full re-assigned layout + centroids under a VERSIONED directory
       ``full_v{batch_id}``, and COMMITS it by creating the version
       marker ``_versions/{batch_id}`` (atomic create, never deleted —
       the max marker is the serving version; see :func:`_ivf_current`
       for why markers beat a rewritten pointer file);
    3. otherwise assigns ONLY the batch's vectors with the current
       centroids and overwrites its own tail partition
       ``tail/batch={batch_id}`` (partitioned by ``cluster_id``).

    Readers (:func:`ivf_serving_view`) serve the max committed version
    plus the ``_SUCCESS``-committed tail batches NEWER than it — every
    component is partition-pruned by ``cluster_id``, so serving cost
    matches the batch-built layout.

    Crash/replay convergence, by construction (Spark replays at most
    the latest uncommitted batch, under the same batch_id):
    - a replayed TAIL batch re-appends a duplicate store segment
      (hidden by newest-wins) and OVERWRITES its own ``tail/batch=N``
      dir — idempotent, and a torn tail dir (no ``_SUCCESS``) is
      excluded from serving until the replay rewrites it;
    - a replayed REFRESH batch whose version marker exists is SKIPPED
      ENTIRELY (the marker is written LAST, so its presence proves the
      store append, the full layout, and the centroids all landed —
      the same done-marker rule as ``bm25_ingest_stream``'s state
      log). A version directory is therefore IMMUTABLE from the moment
      a reader can be pointed at it: a crash BETWEEN the layout swap
      and the checkpoint commit heals with literally no writes, so a
      concurrent reader can never observe a half-rewritten referenced
      layout (review r11 — an in-place overwrite 'converging to the
      same bytes' still passes through an empty directory). Only an
      UNREFERENCED version dir (crash before its marker) is ever
      rewritten, and no reader can be pointed at it. Each skip is
      journaled under ``_skips/`` for observability (and the gate's
      non-vacuity assert).

    CRUD (``op_col`` — closes the CRUD × live-maintenance matrix; the
    reference's persistent index serves searches while ``Remove`` and
    re-``Add`` mutate it on the shared write path,
    ``ivf_index.go:307-400``): when set, rows follow the
    :func:`stream_into_store` op contract (NULL op → insert/upsert,
    ``delete_value`` → delete marker, anything else fails the
    micro-batch loudly via :func:`_split_ops`). Per micro-batch the
    upserts land as one store segment + one tail assignment (same ids
    re-sent later simply re-assign — the serving view resolves
    newest-wins by version precedence: tail batch N shadows the
    committed full layout and any older tail), and the delete ids apply
    as a sequenced store soft-delete AND accumulate as a
    ``_SUCCESS``-gated marker partition ``_deletes/batch={batch_id}``
    the serving view anti-joins (a delete at batch N hides rows whose
    precedence ≤ N; a LATER upsert resurrects — the store's
    segment-watermark rule, read-path mirrored). Refresh batches bake
    both in: the retrain reads the store's merged view, which has
    already applied them, so markers ≤ the committed version are dead
    and pruned at read. The first batch creates a ``_crud`` marker so
    :func:`ivf_serving_view` knows to run the newest-wins/anti-join
    plan; append-only streams keep the r11 plan (every component
    partition-pruned, no dedup work). Crash replay of a marker-carrying
    tail batch re-appends a duplicate segment (newest-wins-hidden),
    re-issues its delete with a fresh watermark, and overwrites its own
    ``_deletes``/``tail`` dirs — idempotent, same argument as
    ``stream_into_store``.

    Without ``op_col``: ids must be FRESH per batch (the reference's
    Add) — the serving view performs no dedup, so a re-sent id would be
    served twice. Like every store stream, this stream is
    the single writer of the store and the index base. The index base
    is scoped to ONE checkpoint lineage (the same sink/checkpoint
    coupling ``bm25_ingest_stream`` documents): pointing a FRESH
    checkpoint at an existing index restarts batch numbering, and a
    recycled batch_id would hit a stale version marker (data silently
    skipped) or land a tail numbered below the committed version
    (written but never served) — the first batch after a (re)start
    fails fast when its id is below the committed version; the one
    undetectable recycled id (batch 0 against a boot-only index) is
    covered by the contract: resume with the original checkpoint, or
    delete the index base and store together when re-pointing."""
    from comet_spark.operators.ann import IVFIndex
    from comet_spark.storage.store import _FS

    first = [True]
    # single-writer closure cache: the stream IS the only writer of
    # index_base, so the committed version only changes when THIS
    # closure commits one — reloading centroids (two parquet reads + a
    # driver collect) per tail batch would pay fixed per-trigger cost
    # for state the closure wrote itself (review r11)
    cache: dict = {"cur": None, "ivf": None}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fs = _FS(spark, index_base)
        # the lineage guard runs BEFORE the isEmpty early-return: empty
        # batches still commit and advance batch numbering, so leading
        # zero-row feeds could otherwise walk a fresh checkpoint's ids
        # past the threshold undetected (review r11 pass 4)
        if first[0]:
            store.force_unlock()
            first[0] = False
            # tails AND delete-marker batches advance numbering (a
            # delete-only batch writes no tail; under refresh_every=0
            # the version stays 0 forever while tails grow — review
            # r11 pass 4); seed the closure cache from the guard's
            # listing, no second _versions scan
            cache["cur"] = _lineage_guard(
                fs, index_base, batch_id, "ivf_ingest_stream",
                ("tail", "_deletes"),
            )
            if op_col is not None:
                # declare the CRUD contract to readers (shared boot:
                # _crud_meta create/check, then the _crud marker)
                _crud_boot(fs, index_base, id_col, "ivf_ingest_stream")
        if _skip_if_committed(fs, index_base, batch_id):
            # a replayed refresh skips EVERYTHING: re-appending would
            # land a pointless duplicate segment, re-deleting would
            # re-stamp a watermark the marker already proves applied
            return
        cur = cache["cur"]
        if cur is None:
            cur = cache["cur"] = _ivf_current(fs, index_base)
        scheduled = cur is None or (
            refresh_every and batch_id > 0 and batch_id % refresh_every == 0
        )
        persisted = None
        tail_rows = None  # this batch's rows to assign into its tail
        n_ups, n_del, del_ids = 0, 0, None
        try:
            if batch.isEmpty():
                # an empty micro-batch that lands ON a scheduled refresh
                # still RUNS it (over the merged store view — data-fed-
                # so-far): skipping would silently extend centroid/tail
                # drift until the next multiple of refresh_every with no
                # signal (ADVICE r11). Before the boot version exists
                # there is nothing to train on — nothing to do.
                if cur is None or not scheduled:
                    return
            elif op_col is None:
                store.append(batch)
                tail_rows = batch
            else:
                persisted = batch.persist()  # every split scans it once
                ups, del_ids, n_ups, n_del = _split_ops(
                    batch, op_col, delete_value, id_col,
                    "ivf_ingest_stream", forbid_dup_upserts=True,
                    reject_null_payload_col=vec_col,
                )
                if n_ups:
                    store.append(ups)
                    tail_rows = ups
                if n_del:
                    # sequenced store soft-delete FIRST (so a refresh
                    # this batch retrains on the post-delete corpus)
                    store.delete(del_ids)
            if scheduled and op_col is not None and _demote_if_emptied(
                fs, store, index_base, batch_id, cur, n_ups, n_del
            ):
                if cur is None:
                    return  # nothing ever landed — boot at next data
                scheduled = False
            if not scheduled and n_del:
                _write_delete_marker(
                    fs, index_base, batch_id, del_ids, id_col, bool(n_ups)
                )
            if scheduled:
                _version_tripwire(
                    fs, index_base, batch_id, "ivf_ingest_stream"
                )
                # index-side writes PROJECT to (id, vector): the store
                # row may be a whole document (doc_ingest_stream feeds
                # vector + text + metadata under one id) — the layout
                # must not duplicate the non-vector modalities
                merged = store.read().select(id_col, vec_col)
                ivf = IVFIndex.train(
                    merged, nlist, id_col=id_col, vec_col=vec_col,
                    metric=metric,
                )
                full = f"{index_base}/full_v{batch_id}"
                ivf.write(
                    ivf.assign(merged, id_col=id_col, vec_col=vec_col),
                    f"{full}/layout.parquet",
                )
                ivf.save(spark, full)
                _commit_version(fs, index_base, batch_id, "ivf_ingest_stream")
                cache["cur"], cache["ivf"] = batch_id, ivf
            elif tail_rows is not None:
                if cache["ivf"] is None:
                    cache["ivf"] = IVFIndex.load(
                        spark, f"{index_base}/full_v{cur}"
                    )
                ivf = cache["ivf"]
                ivf.assign(
                    tail_rows.select(id_col, vec_col),
                    id_col=id_col, vec_col=vec_col,
                ).repartition(
                    "cluster_id"
                ).write.mode("overwrite").partitionBy("cluster_id").parquet(
                    f"{index_base}/tail/batch={batch_id}"
                )
        finally:
            if persisted is not None:
                persisted.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ivf_serving_view(spark, index_base: str):
    """(IVFIndex, layout DataFrame) over the stream-maintained index:
    the max committed version's full layout plus every
    ``_SUCCESS``-committed tail batch NEWER than it. Tail dirs without
    ``_SUCCESS`` are torn mid-write leftovers the stream will overwrite
    on replay — serving them would read half a batch. A committed
    version dir is immutable (replays of its batch skip), so the FULL
    component never wobbles under a concurrent stream; a TAIL dir being
    overwritten by a crash replay, however, can race an in-flight view
    build or execution to a LOUD failure (FileNotFound / empty-dir
    schema inference) — the store-wide loud-fail-then-reread contract
    (SCALE.md): retry by rebuilding the view, which is then correct
    because the rewrite re-lands ``_SUCCESS`` last. Every component is a
    parquet read partitioned by ``cluster_id``, so an ``isin(probes)``
    filter prunes each via PartitionFilters.

    CRUD mode (the writer left a ``_crud`` marker — its stream ran with
    ``op_col``): the view additionally resolves newest-wins and applies
    delete markers, all of it bounded by the TAIL, never the corpus —
    which is why a CRUD stream should run with ``refresh_every > 0``:
    the refresh is what bakes tails and markers into the full layout
    and keeps the tail the "handful of batches" this plan is sized for
    (under ``refresh_every=0`` the tail grows with every batch and
    these joins degrade gracefully to shuffles, but the window shuffle
    then covers the whole post-boot corpus):

    - tail rows dedupe to the max-batch row per id (one shuffle over
      tail rows only, and the winning row's cluster is the id's
      serving assignment);
    - the full layout sheds shadowed ids via an anti-join on the tail's
      id set — size-based broadcast, no forced hint (cluster pruning
      still pushes to the full scan through the anti-join);
    - ``_SUCCESS``-committed ``_deletes`` partitions NEWER than the
      committed version (older markers are baked into the retrain)
      broadcast-join against both components: a row survives when its
      precedence (committed version for full rows, batch id for tail
      rows) is ABOVE the id's newest delete (size-based broadcast,
      markers are id-sized) — so a later upsert
      resurrects, and a same-batch delete wins over its own upsert,
      exactly the store's segment-watermark rule. A TORN ``_deletes``
      partition (no ``_SUCCESS`` — crash mid-write or a replay
      rewriting it) fails the view LOUDLY instead of being excluded
      like a torn tail: dropping a tail serves an older consistent
      state, dropping deletes while the same batch's tail is committed
      would resurrect deleted rows — never-existed state (review r12).

    The tail-side cluster filter applies AFTER the dedup window (the
    newest assignment decides the id's cluster — pruning first could
    serve a stale row from an unprobed cluster's shadow), which is why
    the CRUD plan is opt-in by marker: append-only streams keep the
    fully-pruned r11 plan."""
    from comet_spark.operators.ann import IVFIndex
    from comet_spark.storage.store import _FS

    fs = _FS(spark, index_base)
    cur = _ivf_current(fs, index_base)
    if cur is None:
        raise FileNotFoundError(
            f"ivf_serving_view: no committed version under {index_base} "
            "— the stream has not committed a serving version yet"
        )
    ivf = IVFIndex.load(spark, f"{index_base}/full_v{cur}")
    layout = spark.read.parquet(f"{index_base}/full_v{cur}/layout.parquet")
    return ivf, _crud_resolved_view(
        spark, fs, index_base, layout, cur, who="ivf_serving_view"
    )


def _crud_resolved_view(
    spark, fs, index_base: str, full: DataFrame, cur: int, *, who: str
) -> DataFrame:
    """THE CRUD read plan, shared by every versioned serving view
    (IVF layouts, PQ codes — one copy so the views can never diverge,
    the reader-side twin of the writer's shared version protocol):
    the committed ``full`` component ∪ the ``_SUCCESS``-committed tail
    batches newer than ``cur``, resolved newest-wins with
    precedence-ordered delete markers when the writer left a ``_crud``
    marker. Non-CRUD bases get the plain pruned union. All dedup work
    is bounded by the TAIL, never the corpus — see
    :func:`ivf_serving_view`'s contract docs for the full semantics and
    crash-window story."""
    tail_root = f"{index_base}/tail"
    live = _live_batches(fs, tail_root, cur)
    if not fs.exists(f"{index_base}/_crud"):
        if live:
            tail = spark.read.option("basePath", tail_root).parquet(
                *[f"{tail_root}/{n}" for n in live]
            )
            full = full.unionByName(tail.select(full.columns))
        return full

    from pyspark.sql import Window

    # the stream's id column, recorded by the writer — assign_clusters
    # PRESERVES id_col, so windowing/joining on a hardcoded "id" would
    # crash every non-default-id CRUD view (review r12 pass 5).
    # _crud_boot writes the meta before the _crud marker.
    idc = fs.read_text(f"{index_base}/_crud_meta")
    cols = full.columns
    pri = "__pri"  # version precedence: full rows = cur, tail rows = batch
    if live:
        tail = spark.read.option("basePath", tail_root).parquet(
            *[f"{tail_root}/{n}" for n in live]
        )
        w = Window.partitionBy(idc).orderBy(F.col("batch").desc())
        tail_win = (
            tail.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .withColumn(pri, F.col("batch").cast("bigint"))
            .select(*cols, pri)
        )
        tail_ids = tail.select(idc).distinct()
        # no broadcast HINT: a hint overrides autoBroadcastJoinThreshold
        # unconditionally, and under refresh_every=0 the tail grows with
        # every batch — Catalyst/AQE picks broadcast while the id set is
        # small (the refreshed steady state) and degrades to a shuffle
        # join instead of an OOM when it is not (review r12 pass 3)
        full = full.join(tail_ids, idc, "left_anti")
        full = full.withColumn(pri, F.lit(cur).cast("bigint")).select(
            *cols, pri
        ).unionByName(tail_win)
    else:
        full = full.withColumn(pri, F.lit(cur).cast("bigint"))
    del_root = f"{index_base}/_deletes"
    del_all = [
        n for n in fs.listdir(del_root)
        if n.startswith("batch=") and int(n.split("=", 1)[1]) > cur
    ]
    # the _SUCCESS-gated subset comes from the shared listing (review
    # r12 pass 5); del_all keeps the torn superset for the loud-fail
    del_live = _live_batches(fs, del_root, cur)
    if len(del_live) != len(del_all):
        # a torn _deletes partition must fail LOUDLY, never be excluded
        # like a torn tail: excluding a tail serves an OLDER consistent
        # state, but excluding deletes while the same batch's tail is
        # committed RESURRECTS deleted rows — a state that never
        # existed (review r12: the crash-replay rewrites _deletes with
        # its _SUCCESS briefly absent while the original run's tail is
        # still committed). Same reread contract as every swap race:
        # rebuild the view once the replay re-lands _SUCCESS.
        torn = sorted(set(del_all) - set(del_live))
        raise FileNotFoundError(
            f"{who}: delete partition(s) {torn} under "
            f"{del_root} are torn (crash mid-write or a replay in "
            "flight) — serving without them would resurrect deleted "
            "rows; reread after the stream's replay commits"
        )
    if del_live:
        dels_raw = spark.read.option("basePath", del_root).parquet(
            *[f"{del_root}/{n}" for n in del_live]
        )
        # the deletes-committed / tail-absent window (review r12
        # pass 2): the marker partition commits BEFORE its batch's
        # tail, so a crash in between leaves committed deletes
        # whose sibling upserts never landed — serving would apply
        # the batch's deletes without its upserts, a state no
        # batch boundary ever held. Markers record whether a tail
        # is expected; fail loudly until the replay lands it.
        live_tails = {int(n.split("=", 1)[1]) for n in live}
        missing = sorted(
            int(r["batch"])
            for r in dels_raw.filter(F.col("with_tail"))
            .select("batch").distinct().collect()
            if int(r["batch"]) not in live_tails
        )
        if missing:
            raise FileNotFoundError(
                f"{who}: delete batch(es) {missing} under "
                f"{del_root} committed with upserts whose tail dir "
                "has not landed (crash between the marker and tail "
                "writes, or a replay in flight) — serving would "
                "apply deletes without their sibling upserts; "
                "reread after the stream's replay commits"
            )
        dels = dels_raw.groupBy(idc).agg(
            F.max(F.col("batch").cast("bigint")).alias("__del")
        )
        full = full.join(dels, idc, "left").filter(
            F.col("__del").isNull() | (F.col("__del") < F.col(pri))
        ).drop("__del")
    return full.drop(pri)


def doc_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_base: str,
    *,
    checkpoint: str,
    nlist: int = 8,
    refresh_every: int = 0,
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "l2",
    op_col: str | None = None,
    delete_value: str = "delete",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """THE UNIFIED DOCUMENT STREAM (r13 — the reference's unit of
    ingest: ONE document carrying (vector, text, metadata…) added
    atomically under one ID, ``index.go:103-139`` fanning a single
    ``Add`` into the vector index, the text index, and storage,
    ``storage.go:233-250``): one feed ``(id, vector, text, meta…, op)``
    drives ONE store plus the versioned IVF serving layout per
    micro-batch, under ONE checkpoint.

    This is :func:`ivf_ingest_stream` applied to whole documents — a
    deliberate identity, not a shortcut: the store append already
    carries the FULL row (every modality lands atomically in one
    segment under one id, with one sequenced soft-delete for the
    batch's markers), and the index-side writes project to
    ``(id, vector)``, so the only modality needing separate maintained
    state — the trained/assigned vector layout — is the only one that
    gets any. The text and metadata serving legs are VIEWS over the
    store's newest-wins merged read (:func:`doc_serving_views`): Spark-
    first, the one durable corpus IS the text/metadata index, resolved
    at read exactly like the audited ``lsm_merge_bm25`` /
    ``bm25_crud_merge_score`` / ``meta_crud_stream_filter`` paths —
    which is also what makes the commit story batch-level all-or-skip:
    a replayed committed REFRESH batch skips every sink at once (the
    version marker, written last, covers the store segment, the
    layout, and therefore every view derived from them); a replayed
    tail batch re-runs every sink idempotently (duplicate segment
    hidden by newest-wins, delete re-issued at a fresh watermark,
    marker partition skip-if-committed, tail dir overwritten). There
    is no crash point at which the vector leg serves a batch the text
    leg has not seen or vice versa — both derive from the same
    store-segment commit plus marker state.

    Scale note (100 TB): the BM25 leg tokenizes the merged view at
    serving-view construction (epoch-cached) — the production path for
    heavy text traffic is the persisted bucketed postings layout
    maintained by ``bm25_ingest_stream``/``BM25.compact`` on the same
    refresh cadence; this stream keeps the text modality CRUD-exact
    instead, because postings segments cannot retract an upsert.

    Every document must carry a vector (NULL-vector upserts fail the
    micro-batch loudly — the shared ``_split_ops`` contract); text and
    metadata columns ride along untyped by this writer."""
    return ivf_ingest_stream(
        stream, store, index_base, checkpoint=checkpoint, nlist=nlist,
        refresh_every=refresh_every, id_col=id_col, vec_col=vec_col,
        metric=metric, op_col=op_col, delete_value=delete_value,
        trigger_available_now=trigger_available_now,
    )


def doc_serving_views(
    spark, store: DocumentStore, index_base: str, *,
    text_col: str = "text", normalize: bool = True, cache: bool = True,
):
    """The three modality views over ONE document stream's state —
    ``(ivf, layout, bm25, docs)``: the versioned tail-bounded CRUD
    vector layout (:func:`ivf_serving_view`), a BM25 scorer over the
    store's newest-wins merged view (global corpus statistics,
    delete-corrected by construction — deleted rows are simply absent),
    and the merged document view itself for metadata prefilters /
    projections. One store, one commit history, three serving
    surfaces — the reference's hybrid_search_index read side.
    ``cache`` keeps the BM25 side tables (postings/doc_len/stats)
    AND the merged DOCUMENT view persisted for repeat queries (r14: the
    docs view is a union + newest-wins window + delete anti-join over
    the committed segments — without pinning it every metadata
    prefilter and text-leg consumer re-runs that merge; pinning the
    SERVING view is the same convention as the BM25 side tables and
    the reference's in-memory read side). The IVF ``layout`` is NOT
    pinned: its scale shape is the partition-pruned scan of the
    versioned parquet layout (the probe filter must reach the file
    scan — plan-asserted in test_plans), which an InMemoryRelation
    would swallow. Unpersist when the epoch rolls (the serving views
    are a snapshot of committed state — rebuild after each drain,
    exactly like every other serving view here)."""
    from comet_spark.operators.bm25 import BM25

    ivf, layout = ivf_serving_view(spark, index_base)
    docs = store.read()
    if cache:
        docs = docs.cache()
    bm = BM25(
        docs, id_col=store.id_col, text_col=text_col,
        normalize=normalize, cache=cache,
    )
    return ivf, layout, bm, docs


def pq_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_base: str,
    *,
    checkpoint: str,
    m: int = 8,
    nbits: int = 8,
    refresh_every: int = 0,
    id_col: str = "id",
    vec_col: str = "vector",
    max_iter: int = 20,
    op_col: str | None = None,
    delete_value: str = "delete",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream-wired PQ maintenance — the codes twin of
    :func:`ivf_ingest_stream` and the Spark shape of the reference's
    Add-after-train (``pq_index.go:439-473``: post-train Adds encode
    the new vectors with the EXISTING codebooks; only a retrain moves
    them). Per micro-batch, ``foreachBatch``:

    1. appends the batch as one store segment (the durable corpus);
    2. on the FIRST batch ever — or every ``refresh_every`` batches —
       RETRAINS the codebooks on the store's newest-wins merged view
       and RE-ENCODES the whole corpus under a VERSIONED directory
       ``full_v{batch_id}`` (codes + codebooks), committed by creating
       the monotone marker ``_versions/{batch_id}`` (see
       :func:`_ivf_current` for why marker creates beat a pointer
       rewrite);
    3. otherwise encodes ONLY the batch with the CURRENT codebooks and
       overwrites its own ``_SUCCESS``-gated codes tail
       ``tail/batch={batch_id}``.

    Same crash/replay convergence as the IVF engine: a replayed tail
    batch re-appends a newest-wins-hidden duplicate segment and
    idempotently overwrites its own tail dir; a replayed refresh whose
    marker exists SKIPS entirely (journaled under ``_skips/``) — a
    committed version dir is immutable from the moment a reader can be
    pointed at it, so a crash landing BETWEEN the version commit and
    the checkpoint commit heals with zero writes. An empty micro-batch
    landing on a scheduled refresh still runs it (ADVICE r11). Same
    contracts too: fresh ids per batch (append-only mode), single
    writer, one checkpoint lineage per index base (the first batch
    after a (re)start fails fast when its id is below the newest
    version/tail ever written).

    CRUD (``op_col`` — the reference's ``Remove``/re-``Add`` mutate the
    PQ index on the shared write path, ``pq_index.go:318+``; r13 grows
    the codes engine onto the :func:`ivf_ingest_stream` protocol): rows
    follow the shared :func:`_split_ops` op contract (NULL op →
    insert/upsert, ``delete_value`` → delete marker — anything else, a
    NULL id, a NULL-vector upsert, or a within-batch duplicate upsert
    id fails the micro-batch loudly). Per micro-batch the upserts land
    as one store segment + one codes tail ENCODED WITH THE CURRENT
    CODEBOOKS (a re-sent id simply re-encodes; the serving view
    resolves newest-wins by version precedence), and the delete ids
    apply as a sequenced store soft-delete AND accumulate as a
    ``_SUCCESS``-gated ``_deletes/batch={batch_id}`` marker partition
    the serving view anti-joins by precedence (delete at batch N hides
    rows with precedence ≤ N; a later upsert resurrects; a same-batch
    delete beats its own upsert). The scheduled retrain reads the
    store's merged view — deletes and upserts already applied — so it
    BAKES the CRUD state into ``full_v{N}``'s codes and codebooks, and
    markers ≤ the committed version are dead and pruned at read. Crash
    replay of a marker-carrying tail batch re-appends a newest-wins-
    hidden duplicate segment, re-issues its delete at a fresh
    watermark, leaves the committed marker partition byte-identical
    (skip-if-committed), and overwrites its own codes tail —
    idempotent, the IVF CRUD argument verbatim. A retrain scheduled
    onto a corpus EMPTIED by deletes demotes to a journaled tail batch
    (:func:`_demote_if_emptied`).

    Serving (:func:`pq_serving_view`): ADC scans the max committed
    version's codes plus the committed tails newer than it — the exact
    broadcast-LUT plan of the batch-built PQ index; tails ARE encoded
    under the current codebooks by construction, so one LUT covers
    every component. CRUD streams opt the view into the shared
    newest-wins/anti-join plan (:func:`_crud_resolved_view`) via the
    ``_crud`` marker — all dedup work tail-bounded, so run CRUD with
    ``refresh_every > 0`` to keep the tail a handful of batches."""
    from comet_spark.operators.ann import PQIndex

    return _codes_engine_stream(
        stream, store, index_base, checkpoint=checkpoint,
        who="pq_ingest_stream",
        train_fn=lambda merged: PQIndex.train(
            merged, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col,
            max_iter=max_iter,
        ),
        load_fn=lambda spark, path: PQIndex.load(spark, path),
        encode_fn=lambda model, rows: model.encode(
            rows, id_col=id_col, vec_col=vec_col
        ),
        refresh_every=refresh_every, id_col=id_col, vec_col=vec_col,
        op_col=op_col, delete_value=delete_value,
        trigger_available_now=trigger_available_now,
    )


def ivfpq_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_base: str,
    *,
    checkpoint: str,
    nlist: int = 8,
    m: int = 8,
    nbits: int = 8,
    refresh_every: int = 0,
    id_col: str = "id",
    vec_col: str = "vector",
    max_iter: int = 20,
    op_col: str | None = None,
    delete_value: str = "delete",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream-wired IVFPQ maintenance — the RESIDUAL composition the
    reference maintains as one unit (``ivfpq_index.go:164-260``: a
    centroid retrain forces a residual re-encode, because codes are
    quantized residuals v − centroid[cluster]). Runs the shared codes-
    engine protocol (:func:`_codes_engine_stream` — the PQ twin with
    the coarse layer composed in): per micro-batch the tail encodes
    with the CURRENT centroids AND codebooks into a ``_SUCCESS``-gated
    ``tail/batch={id}`` carrying ``(id, cluster_id, codes)`` — so
    serving stays cluster-pruned end to end — and the scheduled
    refresh retrains BOTH levels over the merged view and re-encodes
    the whole corpus into an immutable marker-committed ``full_v{N}``
    (coarse centroids + codebooks + codes move together: re-encoding
    tails under old centroids against new codebooks would silently
    corrupt every ADC score, which is exactly why the version is one
    atomic commit). Same crash/replay convergence, CRUD op contract,
    demote-on-emptied-corpus, and single-writer/lineage rules as
    :func:`pq_ingest_stream`. Serving: :func:`ivfpq_serving_view` —
    per-cluster LUT ADC over the pruned component union."""
    from comet_spark.operators.ann import IVFPQIndex

    return _codes_engine_stream(
        stream, store, index_base, checkpoint=checkpoint,
        who="ivfpq_ingest_stream",
        train_fn=lambda merged: IVFPQIndex.train(
            merged, nlist=nlist, m=m, nbits=nbits, id_col=id_col,
            vec_col=vec_col, max_iter=max_iter,
        ),
        load_fn=lambda spark, path: IVFPQIndex.load(spark, path),
        encode_fn=lambda model, rows: model.encode(
            rows, id_col=id_col, vec_col=vec_col
        ),
        refresh_every=refresh_every, id_col=id_col, vec_col=vec_col,
        op_col=op_col, delete_value=delete_value,
        trigger_available_now=trigger_available_now,
    )


def _codes_engine_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_base: str,
    *,
    checkpoint: str,
    who: str,
    train_fn,
    load_fn,
    encode_fn,
    refresh_every: int,
    id_col: str,
    vec_col: str,
    op_col: str | None,
    delete_value: str,
    trigger_available_now: bool,
) -> StreamingQuery:
    """THE codes-engine write protocol, shared by :func:`pq_ingest_stream`
    and :func:`ivfpq_ingest_stream` (one body so a crash-window or CRUD
    fix can never land in one compressed engine and miss the other —
    the writer-side twin of :func:`_crud_resolved_view`). ``train_fn``
    retrains the model on the merged view, ``encode_fn`` encodes rows
    under a model, ``load_fn`` reopens the committed model; everything
    else — version markers, skip-if-committed replay, delete markers,
    demote-on-emptied-corpus, persist scoping — is engine-invariant."""
    from comet_spark.storage.store import _FS

    first = [True]
    cache: dict = {"cur": None, "model": None}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql.types import IntegralType

        spark = batch.sparkSession
        fs = _FS(spark, index_base)
        if first[0]:
            store.force_unlock()
            first[0] = False
            cache["cur"] = _lineage_guard(
                fs, index_base, batch_id, who, ("tail", "_deletes")
            )
            # the codes layouts CANONICALIZE the id: PQIndex.encode /
            # IVFPQIndex.encode emit ``id`` cast to bigint whatever the
            # stream's id_col is called (unlike the IVF engine, whose
            # assign PRESERVES id_col) — so (a) a non-integral id_col
            # would silently NULL every id under the cast: fail fast;
            # (b) CRUD metadata and delete markers are recorded under
            # the canonical ``id`` the codes actually carry, or the
            # serving view's newest-wins window would reference a
            # column the codes DataFrames do not have (review r13
            # pass 1 — a non-default-id CRUD view was unserveable)
            if not isinstance(batch.schema[id_col].dataType, IntegralType):
                raise TypeError(
                    f"{who}: id_col {id_col!r} has type "
                    f"{batch.schema[id_col].dataType.simpleString()} — the "
                    "codes layout canonicalizes ids to bigint 'id', and a "
                    "non-integral id would NULL under the cast; use an "
                    "integral id column"
                )
            # the layout name is always canonical, so the _crud_meta
            # guard alone cannot catch a restart under a DIFFERENT
            # source column — record the stream's id_col separately
            # (two source columns would interleave two id spaces into
            # one index; review r13 pass 2). Recorded for append-only
            # streams too: the hazard is not CRUD-specific.
            _record_once(
                fs, f"{index_base}/_stream_id_col", id_col, who, "id_col"
            )
            if op_col is not None:
                _crud_boot(fs, index_base, "id", who)
        if _skip_if_committed(fs, index_base, batch_id):
            return
        cur = cache["cur"]
        if cur is None:
            cur = cache["cur"] = _ivf_current(fs, index_base)
        scheduled = cur is None or (
            refresh_every and batch_id > 0 and batch_id % refresh_every == 0
        )
        persisted = None
        tail_rows = None  # this batch's rows to encode into its tail
        n_ups, n_del, del_ids = 0, 0, None
        # ONE isEmpty evaluation — each is a separate Spark job re-reading
        # the source, and the second ran on the non-persisted DataFrame
        # for scheduled batches (ADVICE r12)
        empty = batch.isEmpty()
        if empty:
            # run a scheduled refresh even on an empty trigger — the
            # codebook drift clock must not silently skip a cycle
            if cur is None or not scheduled:
                return
        elif not scheduled or op_col is not None:
            # tail batches scan the source twice (append + encode), and
            # CRUD batches add the _split_ops probe — persist so every
            # split scans the batch once (review r12 pass 5); the
            # unpersist wraps ALL scans (pass 6: an append failure must
            # not leak the cached batch)
            persisted = batch.persist()
        try:
            if not empty:
                if op_col is None:
                    store.append(batch)
                    tail_rows = batch
                else:
                    ups, del_ids, n_ups, n_del = _split_ops(
                        batch, op_col, delete_value, id_col, who,
                        forbid_dup_upserts=True,
                        reject_null_payload_col=vec_col,
                    )
                    if n_ups:
                        store.append(ups)
                        tail_rows = ups
                    if n_del:
                        # sequenced store soft-delete FIRST (a refresh
                        # this batch retrains on the post-delete corpus)
                        store.delete(del_ids)
            if scheduled and op_col is not None and _demote_if_emptied(
                fs, store, index_base, batch_id, cur, n_ups, n_del
            ):
                if cur is None:
                    return  # nothing ever landed — boot at next data
                scheduled = False
            if not scheduled and n_del:
                # markers under the canonical bigint ``id`` the codes
                # carry (see the boot-time canonicalization note)
                _write_delete_marker(
                    fs, index_base, batch_id,
                    del_ids.select(
                        F.col(id_col).cast("bigint").alias("id")
                    ),
                    "id", bool(n_ups),
                )
            if scheduled:
                _version_tripwire(fs, index_base, batch_id, who)
                merged = store.read()
                model = train_fn(merged)
                full = f"{index_base}/full_v{batch_id}"
                encode_fn(model, merged).write.mode("overwrite").parquet(
                    f"{full}/codes.parquet"
                )
                model.save(spark, full)
                _commit_version(fs, index_base, batch_id, who)
                cache["cur"], cache["model"] = batch_id, model
            elif tail_rows is not None:
                if cache["model"] is None:
                    cache["model"] = load_fn(
                        spark, f"{index_base}/full_v{cur}"
                    )
                encode_fn(cache["model"], tail_rows).write.mode(
                    "overwrite"
                ).parquet(f"{index_base}/tail/batch={batch_id}")
        finally:
            if persisted is not None:
                persisted.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def pq_serving_view(spark, index_base: str):
    """(PQIndex, codes DataFrame) over the stream-maintained PQ index:
    the max committed version's codes plus every ``_SUCCESS``-committed
    codes tail NEWER than it (torn tails excluded until the replay
    rewrites them — the IVF tail rule, same loud-fail-then-reread
    contract under a concurrent replay). Every component carries codes
    encoded under the CURRENT codebooks (tails encode with them at
    write time; the refresh re-encodes everything), so the caller's one
    LUT scores the whole view. CRUD bases (the writer left a ``_crud``
    marker) resolve through the shared newest-wins/anti-join plan
    (:func:`_crud_resolved_view`) — tail-bounded dedup, precedence-
    ordered delete markers, the IVF CRUD semantics verbatim."""
    from comet_spark.operators.ann import PQIndex
    from comet_spark.storage.store import _FS

    fs = _FS(spark, index_base)
    cur = _ivf_current(fs, index_base)
    if cur is None:
        raise FileNotFoundError(
            f"pq_serving_view: no committed version under {index_base} "
            "— the stream has not committed a serving version yet"
        )
    pq = PQIndex.load(spark, f"{index_base}/full_v{cur}")
    codes = spark.read.parquet(f"{index_base}/full_v{cur}/codes.parquet")
    # both _crud_resolved_view branches project to full.columns, so the
    # tail's batch partition column can never leak (review r13 pass 1)
    return pq, _crud_resolved_view(
        spark, fs, index_base, codes, cur, who="pq_serving_view"
    )


def ivfpq_serving_view(spark, index_base: str):
    """(IVFPQIndex, encoded DataFrame) over the stream-maintained
    residual index: the max committed version's ``(id, cluster_id,
    codes)`` plus every ``_SUCCESS``-committed tail NEWER than it —
    all encoded under the CURRENT centroids + codebooks by
    construction (:func:`ivfpq_ingest_stream` re-encodes everything on
    refresh), so one per-cluster-LUT ADC covers the union, still
    cluster-pruned. CRUD bases resolve through the shared
    newest-wins/anti-join plan (:func:`_crud_resolved_view`) — the PQ
    serving rules verbatim."""
    from comet_spark.operators.ann import IVFPQIndex
    from comet_spark.storage.store import _FS

    fs = _FS(spark, index_base)
    cur = _ivf_current(fs, index_base)
    if cur is None:
        raise FileNotFoundError(
            f"ivfpq_serving_view: no committed version under {index_base}"
            " — the stream has not committed a serving version yet"
        )
    ix = IVFPQIndex.load(spark, f"{index_base}/full_v{cur}")
    codes = spark.read.parquet(f"{index_base}/full_v{cur}/codes.parquet")
    # both _crud_resolved_view branches project to full.columns — the
    # batch partition column cannot leak (review r13 pass 1)
    return ix, _crud_resolved_view(
        spark, fs, index_base, codes, cur, who="ivfpq_serving_view"
    )


def gc_index_versions(
    spark, base: str, *, subdirs=("tail", "parts")
) -> list[str]:
    """Out-of-band GC for a versioned maintenance base (IVF/PQ/HNSW):
    delete state the committed version SUPERSEDES — older ``full_v{n}``
    dirs (serving always reads the max marker), batch-numbered dirs
    ≤ the committed version under ``subdirs`` (the default covers all
    three engines: IVF/PQ tails and HNSW graph parts; missing subdirs
    list as empty), and ``_deletes`` markers ≤ it (baked into the
    retrain). Version MARKERS and the ``_skips`` journal are never
    deleted: the monotone max-wins contract
    (:func:`_ivf_current`) and the lineage guard both depend on the
    full marker history. Returns the removed paths.

    Contract (same as out-of-band store compaction): run only while
    the stream is STOPPED — a reader holding a plan across the GC hits
    the documented loud-fail-then-reread; the stream itself must not
    be mid-batch (a tail being written for the current trigger is
    never ≤ the committed version, so the rule is belt-and-braces, but
    the single-writer contract stands). Without GC the dead state is
    only a disk cost, never a correctness one — committed dirs are
    immutable and unread once superseded."""
    from comet_spark.storage.store import _FS

    fs = _FS(spark, base)
    cur = _ivf_current(fs, base)
    if cur is None:
        return []
    removed = []
    for n in fs.listdir(base):
        if n.startswith("full_v") and n[6:].isdigit() and int(n[6:]) < cur:
            removed.append(f"{base}/{n}")
    # _deletes exists only on CRUD IVF bases; listdir on a missing dir
    # is [] so probing it everywhere is harmless. tuple() accepts list
    # callers (review r12 pass 2).
    for d in (*tuple(subdirs), "_deletes"):
        for n in fs.listdir(f"{base}/{d}"):
            if n.startswith("batch=") and int(n.split("=", 1)[1]) <= cur:
                removed.append(f"{base}/{d}/{n}")
    for p in removed:
        fs.delete(p)
    return removed


def hnsw_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    graph_base: str,
    *,
    checkpoint: str,
    m: int = 8,
    ef_construction: int = 100,
    seed: int = 43,
    parts_per_batch: int = 4,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vector",
    refresh_every: int = 0,
    consolidate_rows_per_part: int = 200_000,
    op_col: str | None = None,
    delete_value: str = "delete",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream-wired GRAPH maintenance — the HNSW twin of
    :func:`ivf_ingest_stream` and the Spark shape of the reference's
    mutable-graph ``Add`` (``hnsw_index.go:493-552``: new docs join the
    in-memory graph and are immediately searchable). An immutable
    distributed graph instead GAINS sub-graphs: per micro-batch,
    ``foreachBatch`` appends the batch as one store segment and builds
    :class:`DistributedHNSW` sub-graphs over ONLY the batch (cost ∝
    batch size), overwriting its own graph partition
    ``parts/batch={batch_id}``. Search unions every sub-graph's beam
    (the top-k containment argument is per-sub-graph, so batch-shaped
    slices preserve it), which means a batch is searchable the moment
    its dir commits — no refresh step, no version pointer: graph growth
    is append-only, and the sub-graph count is bounded by the batch
    count.

    ``refresh_every`` drives that rebuild FROM INSIDE the stream (the
    graph twin of ``ivf_ingest_stream``'s versioned retrain): every
    ``refresh_every`` batches the whole merged store view is rebuilt
    into ONE consolidated set of sub-graphs under a VERSIONED directory
    ``full_v{batch_id}/parts``, committed by creating the monotone
    marker ``_versions/{batch_id}`` (never a pointer rewrite — see
    :func:`_ivf_current`). :func:`hnsw_serving_view` then serves the
    max committed consolidation plus only the per-batch dirs NEWER than
    it — sub-graph count is bounded by ``refresh_every`` instead of the
    total batch count, and a committed ``full_v{N}`` is IMMUTABLE (a
    replay of its batch skips entirely, journaled under ``_skips/``),
    so a concurrent reader can never observe a half-rewritten
    consolidation. An empty trigger landing on a scheduled
    consolidation still runs it (the ADVICE-r11 empty-refresh rule).
    Consolidation quality: the rebuild sees the full
    corpus, so its beam can only improve on the per-batch slices it
    replaces (sub-graph count drops; each sub-graph's local top-k is
    built from a larger neighborhood) — the gate asserts recall ≥ the
    pre-consolidation beam.

    Crash/replay: a replayed batch re-appends a duplicate store segment
    (newest-wins-hidden) and OVERWRITES its own graph dir — idempotent
    (builds are seeded + hash-partitioned, so the rebuilt sub-graphs
    walk identically); a torn dir (no ``_SUCCESS``) is excluded from
    serving until the replay rewrites it. ``part`` ids may collide
    across batch dirs — search never reads ``part`` (each row's blob is
    walked independently); only ``add_batch`` needs unique ids, and
    this stream never calls it. Same checkpoint-lineage contract as
    ``ivf_ingest_stream``: the first batch after a (re)start fails fast
    if its id is below an already-written graph batch (a fresh
    checkpoint would overwrite other batches' sub-graphs with its own
    recycled ids). Restarting with different ``m``/``metric`` against
    an existing graph fails fast too: the serving view constructs ONE
    DistributedHNSW from the recorded meta, and sub-graphs built under
    different parameters would silently mis-walk (ADVICE r11).

    CRUD (``op_col`` — r13, the graph cell of the reference's shared
    write path: ``hnsw_index.go:305-431`` removes nodes with graph
    repair, and deleted nodes still ROUTE traversal,
    ``hnsw_index.go:507-510``): rows follow the shared
    :func:`_split_ops` contract (NULL op → insert/upsert,
    ``delete_value`` → delete marker; a NULL id, NULL-vector upsert,
    typo'd op, or within-batch duplicate upsert id fails the
    micro-batch loudly). Per micro-batch the upserts land as one store
    segment + one per-batch sub-graph set (an upsert's NEW vector joins
    the graph; the old sub-graph keeps the stale node), and the delete
    ids apply as ONE sequenced store soft-delete — no ``_deletes``
    marker partitions here: the graph is a CANDIDATE structure, not the
    value store, so deletes and upsert-shadowing resolve at the serving
    tail, where :func:`comet_spark.operators.hnsw.score_candidates`'s
    exact rescore semi-joins the beam against the store's newest-wins
    merged view — deleted ids drop out (absent from the view), upserted
    ids score with their NEWEST vector whichever sub-graph surfaced
    them. That IS the reference's semantics: stale/deleted nodes keep
    routing traversal until a rebuild; exclusion applies to RESULTS.
    Size the beam for the exclusions (``_inflated_ef``) when the
    deleted fraction is material. The scheduled consolidation reads the
    merged view — CRUD already applied — so it BAKES deletes and
    upserts out of the graph entirely; a consolidation scheduled onto a
    corpus EMPTIED by deletes demotes to a journaled no-op batch.
    Crash replay: the replayed batch re-appends a newest-wins-hidden
    duplicate segment, re-issues its delete at a fresh watermark, and
    overwrites its own sub-graph dir — idempotent, the IVF CRUD
    argument with the store as the single delete authority."""
    from comet_spark.operators.hnsw import DistributedHNSW
    from comet_spark.storage.store import _FS

    first = [True]

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fs = _FS(spark, graph_base)
        # lineage guard BEFORE the isEmpty return — leading zero-row
        # feeds still advance batch numbering (review r11 pass 4)
        if first[0]:
            store.force_unlock()
            first[0] = False
            _lineage_guard(
                fs, graph_base, batch_id, "hnsw_ingest_stream", ("parts",)
            )
            # meta mismatch guard (ADVICE r11): a restart with different
            # m/metric would build new sub-graphs under the OLD meta and
            # the serving view would walk them with parameters they were
            # not built with — fail fast instead, once per (re)start
            if fs.exists(f"{graph_base}/meta.parquet/_SUCCESS"):
                meta = spark.read.parquet(f"{graph_base}/meta.parquet").first()
                if int(meta["m"]) != m or meta["metric"] != metric:
                    raise RuntimeError(
                        f"hnsw_ingest_stream: stream params (m={m}, "
                        f"metric={metric!r}) differ from the graph's "
                        f"recorded meta (m={int(meta['m'])}, "
                        f"metric={meta['metric']!r}) under {graph_base} "
                        "— sub-graphs built under mixed parameters would "
                        "silently mis-walk; resume with the original "
                        "parameters, or delete the graph base and store "
                        "to re-ingest"
                    )
        if _skip_if_committed(fs, graph_base, batch_id):
            return
        scheduled = bool(
            refresh_every and batch_id > 0 and batch_id % refresh_every == 0
        )
        persisted = None
        gb_rows = None  # this batch's rows to build sub-graphs over
        n_ups, n_del = 0, 0
        try:
            # the whole non-empty leg sits INSIDE the try: the persist
            # must unpersist even when _split_ops or a store op raises
            # (review r13 pass 2 — the stated pass-6 invariant of the
            # other engines; a crash-looping bad batch would otherwise
            # pin one cached copy per replay attempt)
            if batch.isEmpty():
                # an empty trigger landing ON a scheduled consolidation
                # still runs it (the ADVICE-r11 empty-refresh rule,
                # applied to the graph engine too — review r12); before
                # any data landed there is nothing to consolidate
                if not scheduled or not store._fs.exists(store.data_path):
                    return
            else:
                if op_col is None:
                    store.append(batch)
                    gb_rows = batch
                else:
                    persisted = batch.persist()  # every split scans once
                    ups, del_ids, n_ups, n_del = _split_ops(
                        batch, op_col, delete_value, id_col,
                        "hnsw_ingest_stream", forbid_dup_upserts=True,
                        reject_null_payload_col=vec_col,
                    )
                    if n_ups:
                        store.append(ups)
                        gb_rows = ups
                    if n_del:
                        # sequenced store soft-delete — the store is
                        # the single delete authority for the graph
                        # engine (a consolidation this batch rebuilds
                        # the post-delete corpus; serving's rescore
                        # semi-join applies it everywhere else)
                        store.delete(del_ids)
                if not fs.exists(f"{graph_base}/meta.parquet/_SUCCESS"):
                    local_frame(
                        spark, [(m, metric)], "m int, metric string"
                    ).repartition(1).write.mode("overwrite").parquet(
                        f"{graph_base}/meta.parquet"
                    )
            # the corpus COULD be empty only when the batch deleted or
            # carried nothing — gate the FS listings on that cheap
            # check first (review r13 pass 3: the common scheduled
            # batch with upserts and no deletes paid a _versions plus
            # parts listing for a journal flag that was never used)
            if scheduled and op_col is not None and (n_del or not n_ups):
                # the graph engine serves per-batch sub-graphs before
                # any consolidation commits, so the demote journals
                # whenever ANY served state exists — committed version
                # OR committed parts (review r13 pass 1)
                cur_g = _ivf_current(fs, graph_base)
                served = cur_g is not None or bool(
                    _live_batches(fs, f"{graph_base}/parts", None)
                )
                if _demote_if_emptied(
                    fs, store, graph_base, batch_id, cur_g, n_ups, n_del,
                    journal=served,
                ):
                    # deletes emptied the corpus (or nothing ever
                    # landed): consolidating zero rows would crash-loop
                    # the replay — journaled no-op; serving keeps the
                    # old state, whose dead rows the rescore semi-join
                    # already hides
                    scheduled = False
            if scheduled:
                # CONSOLIDATION: one rebuild over the merged view
                # replaces every sub-graph so far; per-batch dirs
                # ≤ batch_id stop being served the moment the marker
                # lands (they stay on disk for a post-drain cleanup —
                # serving never reads them)
                _version_tripwire(
                    fs, graph_base, batch_id, "hnsw_ingest_stream"
                )
                # a torn meta (crash mid-meta-write) would otherwise
                # stay torn across empty triggers and scheduled batches
                # — only a data-carrying batch rewrites it — leaving
                # serving down indefinitely even though committed graph
                # state exists (ADVICE r12); m/metric are in hand,
                # rewrite it here too
                if not fs.exists(f"{graph_base}/meta.parquet/_SUCCESS"):
                    local_frame(
                        spark, [(m, metric)], "m int, metric string"
                    ).repartition(1).write.mode("overwrite").parquet(
                        f"{graph_base}/meta.parquet"
                    )
                merged = store.read()
                # the consolidation input is CORPUS-sized, not
                # batch-sized: parts_per_batch is a per-micro-batch
                # knob, and each build task materializes its whole
                # partition — scale the partition count so per-task
                # memory stays bounded as the corpus grows (review r12
                # pass 2). Deterministic: the count is a property of
                # the merged view.
                n_rows = merged.count()
                n_parts = max(
                    parts_per_batch,
                    -(-n_rows // max(1, consolidate_rows_per_part)),
                )
                full = DistributedHNSW.build(
                    merged, id_col=id_col, vec_col=vec_col, m=m,
                    ef_construction=ef_construction, seed=seed,
                    metric=metric, num_partitions=n_parts, cache=False,
                )
                full.graphs.write.mode("overwrite").parquet(
                    f"{graph_base}/full_v{batch_id}/parts"
                )
                _commit_version(
                    fs, graph_base, batch_id, "hnsw_ingest_stream"
                )
                return
            if gb_rows is None:
                # a delete-only CRUD batch: the store soft-delete IS
                # the whole write — batch numbering advanced, nothing
                # to build
                return
            fresh = DistributedHNSW.build(
                gb_rows, id_col=id_col, vec_col=vec_col, m=m,
                ef_construction=ef_construction, seed=seed, metric=metric,
                num_partitions=parts_per_batch, cache=False,
            )
            fresh.graphs.write.mode("overwrite").parquet(
                f"{graph_base}/parts/batch={batch_id}"
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hnsw_serving_view(spark, graph_base: str):
    """:class:`DistributedHNSW` over the max committed CONSOLIDATION
    (``full_v{N}`` — see ``hnsw_ingest_stream(refresh_every=...)``), if
    any, plus every ``_SUCCESS``-committed per-batch graph dir NEWER
    than it — torn dirs (crash mid-write) are excluded until the
    stream's replay rewrites them, same rule as the IVF tails. The
    graph table is the union of sub-graph rows; search walks each row's
    blob independently, so the union IS the serving structure, no merge
    step."""
    from comet_spark.operators.hnsw import DistributedHNSW
    from comet_spark.storage.store import _FS

    fs = _FS(spark, graph_base)
    parts_root = f"{graph_base}/parts"
    cur = _ivf_current(fs, graph_base)
    live = _live_batches(fs, parts_root, cur)
    # the batch check and meta _SUCCESS gate run BEFORE any parquet
    # read: a crash mid-write must fail with a DELIBERATE, correctly
    # named error, not an opaque schema-inference failure (review r11
    # pass 4) — and the two failure states are distinct for an operator
    # (ADVICE r11): no committed batch at all vs committed batches
    # whose meta is missing/torn
    if cur is None and not live:
        raise FileNotFoundError(
            f"hnsw_serving_view: no committed graph batches under "
            f"{graph_base} — the stream has not flushed a batch yet"
        )
    if not fs.exists(f"{graph_base}/meta.parquet/_SUCCESS"):
        raise FileNotFoundError(
            f"hnsw_serving_view: committed graph batches exist under "
            f"{graph_base} but meta.parquet is missing or torn (no "
            "_SUCCESS) — a crash landed mid-meta-write; the stream's "
            "next data-carrying or scheduled-consolidation batch "
            "rewrites it"
        )
    meta = spark.read.parquet(f"{graph_base}/meta.parquet").first()
    comps = [f"{graph_base}/full_v{cur}/parts"] if cur is not None else []
    comps += [f"{parts_root}/{n}" for n in live]
    graphs = spark.read.parquet(*comps)
    if "batch" in graphs.columns:
        graphs = graphs.drop("batch")
    return DistributedHNSW(graphs, m=int(meta["m"]), metric=meta["metric"])


def bm25_ingest(
    store: DocumentStore,
    batch: DataFrame,
    index_path: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
    buckets: int = 16,
    normalize: bool = True,
) -> None:
    """One ingest step that keeps the persisted BM25 index fresh: the
    batch lands as a store segment AND as a postings segment
    (:meth:`BM25.append` — only the batch is tokenized), so text search
    serves the bucketed on-disk layout continuously instead of waiting
    on a full rebuild. The first batch creates the index
    (``BM25(...).write``); later ones append in O(batch). This is the
    text-side twin of the ANN maintenance-under-ingest story
    (``store.compact(recluster=...)``): the reference mutates its
    in-memory postings on every Add (``bm25_index.go:99-140``) — here
    the mutation is a segment append into the same bucket layout.

    Append-only streams ONLY: ids must be fresh (the duplicate-id probe
    fails fast otherwise). Upsert/delete streams should instead score
    through the LSM merge view (lsm_merge_bm25), which resolves
    newest-wins at read time — postings segments can't retract.

    Crash recovery / replay: calling this again with the SAME batch
    (e.g. a caller's own foreachBatch replaying after a crash that
    landed anywhere past the index append) is safe — when the
    duplicate-id probe fires, the index is probed (all batch ids
    present + the stats ledger matching doc_len means the previous
    append fully committed) and the call returns as a no-op; a
    genuinely torn previous append instead rebuilds the index from
    ``store.read()``, the durable source of truth. The replayed
    ``store.append`` can leave one duplicate store segment (benign
    under the newest-wins read; compaction removes it) — the streaming
    variant's restart probe avoids even that. A torn FIRST write
    (``stats`` unreadable) re-routes into the full build, which
    overwrites the wreckage. One caveat a HARD crash adds: a writer-lock
    marker (the store's or the index's) left by the crashed attempt
    makes the replay fail fast with ``StoreLockedError`` until
    ``force_unlock`` clears it — the standard single-writer recovery
    step for any store writer; the streaming variant performs it
    automatically at restart because the stream provably owns both
    lock domains."""
    from comet_spark.operators.bm25 import DuplicateIdsError

    batch = batch.persist()  # both sinks scan the batch once each
    try:
        store.append(batch)
        try:
            _bm25_index_step(
                batch, index_path,
                id_col=id_col, text_col=text_col,
                normalize=normalize, buckets=buckets,
            )
        except DuplicateIdsError:
            # this batch may be a replay — classify and repair via the
            # shared protocol (committed → no-op; torn → rebuild from
            # the store, which durably holds the batch now)
            _repair_index_from_store(
                store, batch, index_path,
                _index_batch_state(batch.sparkSession, index_path, batch, id_col),
                id_col=id_col, text_col=text_col,
                normalize=normalize, buckets=buckets,
            )
    finally:
        batch.unpersist()


def _bm25_index_step(
    batch: DataFrame, index_path: str, *,
    id_col: str, text_col: str, normalize: bool, buckets: int,
) -> None:
    """Index side of one ingest step: first batch creates the index,
    later ones append in O(batch). The route probe requires stats to be
    READABLE with a row, not merely present — a torn first write (stats
    directory exists but is empty/unreadable) must re-route into the
    full build, which overwrites the wreckage, instead of wedging every
    retry on the stats read inside append (ADVICE r06).

    The crashed-compact heal runs BEFORE the route probe: a compact
    that died mid-swap (e.g. the in-stream tiered compact's stats swap)
    leaves stats absent — without healing first, the probe would
    route this healthy-after-heal index into the full build, which
    ``mode(overwrite)``s every table with BATCH-ONLY content and
    silently drops all previously ingested documents from search. The
    heal takes the writer lock (``BM25.heal``): it renames directories,
    and a lock-free rename could interleave with an out-of-band
    compactor mid-swap; under the documented single-writer contract the
    lock is uncontended, and a held lock fails fast exactly as any
    write would."""
    from comet_spark.operators.bm25 import BM25

    BM25.heal(batch.sparkSession, index_path)
    if _stats_committed(batch.sparkSession, index_path):
        BM25.append(
            batch.sparkSession, index_path, batch,
            id_col=id_col, text_col=text_col, normalize=normalize,
        )
    else:
        _bm25_full_write(
            batch, index_path,
            id_col=id_col, text_col=text_col,
            normalize=normalize, buckets=buckets,
        )


def compact_sig_store(
    spark, sig_store_path: str, *, min_files: int = 0,
    rows_per_file: int = 8_000_000,
) -> bool:
    """Consolidate the near-dup signature store: every
    :func:`neardup_ingest` batch appends one file set, and replays can
    leave byte-duplicate rows — over a long stream the collision probe's
    file listing grows without bound (the same growth vector as the
    bm25 ingest state log). One ``distinct()`` rewrite collapses both,
    installed with ``storage.store._swap_dir`` (the row set is
    value-identical minus exact duplicates, which the semi-join probe is
    insensitive to — any crash point leaves a correct store). Crash heal
    at entry (``storage.store._heal_dir``; crash states: that module's
    docstring): a crash mid-swap leaves the live dir absent — without
    the heal, the next batch's collision probe would see no store and
    silently re-admit historical near-duplicates (ADVICE r07).
    Single-writer ENFORCED via the shared lock marker
    (sibling ``<store>._lock`` — inside the dir it would move aside with
    the swap): a second concurrent compactor fails fast with
    :class:`StoreLockedError` instead of silently deleting the other's
    rewrite. Ownership contract (same as ``bm25_ingest_stream``'s): while
    a :func:`neardup_ingest_stream` feeds this store, the STREAM is the
    single writer — it invokes this compactor automatically past ~64
    files and clears a stale lock at restart on the premise that any
    marker can only be its own crashed predecessor's. Run an out-of-band
    compact only while the stream is stopped; one live across a stream
    restart would have its lock cleared and the enforcement voided.
    Returns True if a rewrite ran; ``min_files`` short-circuits when the
    store is already small."""
    from comet_spark.storage.store import _FS, _heal_dir, _swap_dir, _writer_lock

    fs = _FS(spark, sig_store_path)
    with _writer_lock(fs, f"{sig_store_path}._lock", "compact_sig_store"):
        _heal_dir(fs, sig_store_path)
        if not _parquet_exists(spark, sig_store_path):
            return False
        # data files only: the _SUCCESS marker is not a file to merge
        names = [n for n in fs.listdir(sig_store_path) if n.startswith("part-")]
        if len(names) <= min_files:
            return False
        df = spark.read.parquet(sig_store_path).distinct()
        n = df.count()
        _swap_dir(
            fs, sig_store_path, [],
            lambda tmp: df.coalesce(max(1, -(-n // rows_per_file)))
            .write.mode("overwrite").parquet(tmp),
        )
        return True


def _reject_legacy_flat_output(spark, out_path: str) -> None:
    """The batch-partitioned output streams refuse an ``out_path`` that
    already holds FLAT parquet files (written by the pre-``batch=<id>``
    version): mixing the two layouts breaks partition discovery for
    every reader ('conflicting directory structures'). Checked once per
    stream start; point the stream at a fresh directory, or move the
    legacy files under a ``batch=-1/`` subdirectory to keep them."""
    from comet_spark.storage.store import _FS

    fs = _FS(spark, out_path)
    flat = [
        n for n in fs.listdir(out_path)
        if (n.startswith("part-") or n.endswith(".parquet"))
    ]
    if flat:
        raise ValueError(
            f"{out_path} holds flat parquet files from the pre-partitioned "
            "output layout; this stream now writes batch=<id> partition "
            "directories and mixing the layouts breaks every reader. Use a "
            "fresh out_path, or move the legacy files under batch=-1/."
        )


def _newest_segment_has_batch(store: DocumentStore, batch: DataFrame, id_col: str) -> bool:
    """True iff the store's NEWEST segment already carries every id of
    ``batch`` — i.e. a previous (crashed) attempt's ``store.append``
    landed and a replay must not write a duplicate segment. Reads one
    batch-sized segment directory, never the whole store; any failure
    reads as False (the replay then appends — a duplicate segment is
    benign under the newest-wins read and removed by compaction)."""
    try:
        segs = store._segment_ids()
        if not segs:
            return False
        last = store.spark.read.parquet(f"{store.data_path}/segment={segs[-1]}")
        ids = batch.select(F.col(id_col).alias("id")).distinct()
        missing = ids.join(
            last.select(F.col(id_col).alias("id")), "id", "left_anti"
        )
        return missing.limit(1).count() == 0
    except Exception:
        return False


def _repair_index_from_store(
    store: DocumentStore, batch: DataFrame, index_path: str, state: str, *,
    id_col: str, text_col: str, normalize: bool, buckets: int,
) -> None:
    """THE index-side repair for a (possibly) replayed batch that is
    already durable in the store — both ingest variants share it so the
    replay protocol exists once: *committed* → nothing to do; *absent*
    (index healthy, batch unseen) → re-run the O(batch) index append;
    *torn* or *no_index* (the index is damaged, or unreadable outright —
    a batch-only rewrite could drop earlier batches' docs) → rebuild
    from ``store.read()``, the durable truth."""
    if state in ("torn", "no_index"):
        _bm25_full_write(
            store.read(), index_path,
            id_col=id_col, text_col=text_col,
            normalize=normalize, buckets=buckets,
        )
    elif state == "absent":
        _bm25_index_step(
            batch, index_path,
            id_col=id_col, text_col=text_col,
            normalize=normalize, buckets=buckets,
        )


def _stats_committed(spark, index_path: str) -> bool:
    """True iff the index's stats table is readable AND carries at least
    one row — the first full write's commit signal."""
    from comet_spark.operators.bm25 import _STATS_SCHEMA

    try:
        return (
            spark.read.schema(_STATS_SCHEMA).parquet(f"{index_path}/stats")
            .first() is not None
        )
    except Exception:
        return False


def _index_batch_state(spark, index_path: str, batch: DataFrame, id_col: str) -> str:
    """Classify what a persisted BM25 index knows about ``batch`` — the
    replay/crash probe behind both ingest variants:

    - ``"committed"``: every batch id is in ``doc_len`` AND the stats
      ledger matches it (``sum(stats.n_docs) == count(doc_len)``).
      ``BM25.append`` writes doc_len first and stats last, so a
      consistent ledger certifies the in-between postings segment
      landed too — the batch's index append fully committed.
    - ``"absent"``: no batch id present and the ledger is consistent —
      the index is healthy and has never seen this batch.
    - ``"torn"``: anything else (partial ids, ledger mismatch, an
      unreadable doc_len segment) — some append tore mid-write and the
      index needs a rebuild from the durable store.
    - ``"no_index"``: stats unreadable/empty — nothing committed yet.

    Cost: one stats collect + one count + one batch-sized semi-join
    against doc_len (doc-count-sized, never the postings)."""
    from comet_spark.operators.bm25 import _STATS_SCHEMA

    # batch-side evaluation stays OUTSIDE the try blocks: an error in the
    # source dataframe must propagate (and fail/retry the micro-batch),
    # not masquerade as an index tear and trigger a spurious rebuild
    ids = batch.select(F.col(id_col).alias("id")).distinct().cache()
    try:
        n_batch = ids.count()
        try:
            stats_rows = (
                spark.read.schema(_STATS_SCHEMA)
                .parquet(f"{index_path}/stats").collect()
            )
            if not stats_rows:
                return "no_index"
        except Exception:
            return "no_index"
        try:
            dl = spark.read.parquet(f"{index_path}/doc_len")
            n_dl = dl.count()
            n_present = ids.join(dl, "id", "left_semi").count()
        except Exception:
            # the batch side is proven evaluable (counted above), so a
            # failure here is the index's doc_len — unreadable = torn
            return "torn"
    finally:
        ids.unpersist()
    consistent = float(sum(r["n_docs"] for r in stats_rows)) == float(n_dl)
    if consistent and n_present == n_batch:
        return "committed"
    if consistent and n_present == 0:
        return "absent"
    return "torn"


def _bm25_full_write(
    docs: DataFrame, index_path: str, *,
    id_col: str, text_col: str, normalize: bool, buckets: int,
) -> None:
    """Build + persist a BM25 index: the postings are materialized once
    (``checkpoint=True``), so the four table writes share one
    tokenize/aggregate pass."""
    from comet_spark.operators.bm25 import BM25

    BM25(
        docs, id_col=id_col, text_col=text_col, normalize=normalize,
        checkpoint=True,
    ).write(index_path, buckets=buckets)


def bm25_ingest_stream(
    stream: DataFrame,
    store: DocumentStore,
    index_path: str,
    *,
    checkpoint: str,
    id_col: str = "id",
    text_col: str = "text",
    buckets: int = 16,
    normalize: bool = True,
    trigger_available_now: bool = True,
    state_compact_files: int = 64,
    tiered_compact_every: int = 0,
    op_col: str | None = None,
    delete_value: str = "delete",
) -> StreamingQuery:
    """Streaming twin of :func:`bm25_ingest` — ``foreachBatch`` appends
    one store segment + one postings segment per micro-batch, with a
    SELF-HEALING replay protocol around the index append (Spark re-runs
    an uncommitted batch under the same batch_id after a crash):

    - an append-only state log (``_ingest_state``: (batch_id, phase)
      rows) records ``begin`` strictly AFTER the store append and before
      the index append, and ``done`` after the index append;
    - a replayed batch whose ``done`` row exists is skipped entirely
      (both sinks landed before the crash);
    - a replayed batch with ``begin`` but no ``done`` crashed somewhere
      around the index append; the batch is already durable in the
      store, so the heal path only has to repair the INDEX — it never
      re-appends to the store. It probes the index first
      (:func:`_index_batch_state`): a *committed* batch (crash landed
      between the index append and the ``done`` marker) just gets its
      marker; an *absent* one (crash landed before any index write)
      re-runs the O(batch) index append; only a genuinely *torn* append
      costs the full rebuild from ``store.read()`` — rare, loud in the
      logs, and correct;
    - a replayed batch with NO state rows (the crash landed around the
      store append — or the state log itself was lost/torn, which the
      defensive read treats as empty) runs the same probe before
      touching the store, and additionally checks whether the store's
      LAST segment already carries the batch's ids: a fully-committed
      batch is marked ``done`` without re-appending (no duplicate store
      segment, no crash-loop on the duplicate-id probe), and a crash
      between ``store.append`` and ``begin`` skips the store re-append
      too. Only the FIRST non-empty batch after a (re)start can be a
      replay, so these probes cost nothing in steady state.

    The state log is read filtered to the current batch_id and is
    COMPACTED (rewritten as its max-``done`` watermark row via
    ``storage.store._swap_dir``; every batch heals it at entry) once it
    accumulates ``state_compact_files`` files (default ~64 — lower it
    only if the per-batch listing ever matters before then), so a
    long-running stream's per-batch driver scan stays O(1) instead of growing with the
    stream's lifetime; Spark replays at most the latest uncommitted
    batch, so older rows can never be consulted again. The log is
    scoped to ONE checkpoint lineage: pointing a fresh checkpoint at a
    partially-ingested source restarts batch numbering and would skip
    new data under recycled ids; resume with the original checkpoint
    (standard sink/checkpoint coupling), or delete ``_ingest_state`` and
    rebuild the index when re-pointing.

    Ownership contract: while this stream feeds an index, the stream IS
    the single writer of both the store and the index — that is the
    basis on which it clears their lock markers at restart. Run
    out-of-band maintenance (``BM25.compact``, ``store.compact``) only
    while the stream is stopped; a compactor live across a stream
    restart would have its lock cleared and the enforcement voided.

    Which is exactly why IN-stream maintenance is the right place:
    ``tiered_compact_every=N`` runs a SIZE-TIERED compact of both the
    index and the store after every Nth micro-batch (by batch id), so
    file counts stay low under continuous ingest without ever
    stopping the stream — each compact merges only the sub-top-tier
    tail and renames the base across (promoted tiers climb the absolute
    size-class ladder above the consolidation cap — each filled class
    merges into one output promoted to the next class — so file counts
    stay BOUNDED with no full compact ever needed; one still restores
    the exact single-file shape when wanted). A boundary's rewrite covers the
    batches since the last PROMOTION, not the whole index: the merged
    output is re-merged with newer batches until it grows within 4× of
    the base and joins it (see ``_pick_tier_merge``), so per-boundary
    cost is bounded by ~base/4 and each ingested byte is rewritten a
    bounded number of times. It runs after the batch's ``done`` marker: a
    crash mid-compact replays as an already-done batch (no re-append)
    and the interrupted swap heals at the next write path's entry; the
    compaction is simply retried at the next boundary. ``0`` (default)
    disables it.

    ``op_col`` lets DELETE MARKERS ride the same stream (the reference's
    ``Remove`` shares the text index's write path,
    ``bm25_index.go:253-278``): rows with ``op_col == delete_value``
    name previously-indexed ids (only the id is read); NULL ``op_col``
    rows are inserts; any other value fails the micro-batch loudly.
    Per batch the inserts run the full state-log protocol above, then
    the markers apply as ``DocumentStore.delete`` + ``BM25.delete`` —
    BOTH idempotent (the store's delete re-issues at a monotone
    watermark; the index skips ids already in its vector), so the
    deletes simply RE-APPLY at the end of every replay path instead of
    joining the state machine: a crash at any point between the
    ``done`` marker and the last delete write is healed by the replay
    re-running them. Within one batch deletes win over inserts of the
    same id (applied after). The insert contract is unchanged — ids
    must be FRESH, and a deleted id stays in the index ledger until a
    full compact, so re-inserting it later still fails fast (route
    upserts/resurrections through the LSM merge view); deletes of
    never-indexed ids are skipped, not errors."""
    from comet_spark.storage.store import _FS, _heal_dir, _swap_dir

    state_path = f"{index_path}/_ingest_state"
    first = [True]  # only the first batch after a (re)start can be a replay

    def _log(spark, batch_id: int, phase: str) -> None:
        local_frame(
            spark, [(int(batch_id), phase)], "batch_id bigint, phase string"
        ).repartition(1).write.mode("append").parquet(state_path)

    def _phases(spark, batch_id: int) -> set:
        """Phases recorded for ``batch_id`` — filtered read (one tiny row
        per file; only the current batch's rows are ever relevant). A
        lost/torn log reads as empty: the index/store probes below are
        the correctness backstop, so the defensive fallback can never
        skip work that didn't happen."""
        if not _parquet_exists(spark, state_path):
            return set()
        try:
            rows = (
                spark.read.parquet(state_path)
                .filter(F.col("batch_id") == int(batch_id))
                .collect()
            )
        except Exception:
            return set()
        return {r["phase"] for r in rows}

    def _compact_state(spark) -> None:
        """Collapse the append-only log to its max-'done' watermark row
        (``storage.store._swap_dir`` — the only writer is this
        foreachBatch, which heals the log at entry, and index readers
        never touch the log). The watermark is computed with a
        distributed agg and only rows AT/ABOVE it are collected (a
        healthy log keeps that to a handful of rows; even a
        pathologically-backlogged log can't balloon the driver with its
        full history — VERDICT r07 #7)."""
        fs = _FS(spark, state_path)
        # data files only: the _SUCCESS marker is not a log file
        names = [n for n in fs.listdir(state_path) if n.startswith("part-")]
        if len(names) <= state_compact_files:
            return
        log = spark.read.parquet(state_path)
        max_done = log.filter(F.col("phase") == "done").agg(
            F.max("batch_id")
        ).first()[0]
        if max_done is None:
            return
        rows = log.filter(F.col("batch_id") >= int(max_done)).collect()
        keep = [(int(max_done), "done")] + [
            (int(r["batch_id"]), r["phase"])
            for r in rows
            if r["batch_id"] > max_done
        ]
        _swap_dir(
            fs, state_path, [],
            lambda tmp: local_frame(
                spark, keep, "batch_id bigint, phase string"
            ).repartition(1).write.mode("overwrite").parquet(tmp),
        )

    def _repair_index(spark, batch: DataFrame, batch_id: int, state: str) -> None:
        """Shared repair (committed → marker only; absent → O(batch)
        append; torn/unreadable → rebuild from the store) + the marker."""
        _repair_index_from_store(
            store, batch, index_path, state,
            id_col=id_col, text_col=text_col,
            normalize=normalize, buckets=buckets,
        )
        _log(spark, batch_id, "done")

    def _apply_deletes(spark, dels: DataFrame | None) -> None:
        """Idempotent delete application — the tail of EVERY execution
        path of a delete-carrying batch (fresh run and all replay
        branches): the store first (it is the rebuild source a torn
        index heals from, so a rebuild already excludes these docs),
        then the index vector. Re-running writes nothing new:
        BM25.delete skips ids already in its vector, and the store's
        re-issued watermark covers at most this batch's own replayed
        segment."""
        if dels is None:
            return
        from comet_spark.operators.bm25 import BM25

        store.delete(dels)
        BM25.delete(spark, index_path, dels, id_col=id_col)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # a crash inside _compact_state's swap leaves the log absent or
        # half-swapped; resolve it before _phases reads it, or a done
        # batch would read as never started
        _heal_dir(_FS(spark, state_path), state_path)
        dels: DataFrame | None = None
        if op_col is not None:
            # same loud-rejection contract as stream_into_store (and the
            # same exhaustive three-way partition — NULL / true-match /
            # everything-else, so a mistyped column whose comparison is
            # NULL fails instead of silently dropping rows), counted in
            # ONE scan: a typo'd marker appended as data would poison
            # the index
            is_del = F.coalesce(
                F.col(op_col) == F.lit(delete_value), F.lit(False)
            )
            is_bad = F.col(op_col).isNotNull() & ~is_del
            probe = batch.agg(
                F.count(F.when(is_bad, 1)).alias("n_bad"),
                F.max(F.when(is_bad, F.col(op_col).cast("string"))).alias("bad_val"),
                F.count(F.when(is_del, 1)).alias("n_del"),
                F.count(F.when(F.col(op_col).isNull(), 1)).alias("n_ups"),
            ).first()
            if probe["n_bad"]:
                raise ValueError(
                    f"bm25_ingest_stream: unrecognized {op_col}="
                    f"{probe['bad_val']!r} (expected NULL/insert or "
                    f"{delete_value!r})"
                )
            if probe["n_del"]:
                # materialize the marker ids once (tiny id rows):
                # _apply_deletes feeds them to BOTH store.delete and
                # BM25.delete, and a lineage would re-scan the source
                # per consumer (review r10)
                dels = batch.filter(is_del).select(id_col).localCheckpoint()
            batch = batch.filter(F.col(op_col).isNull()).drop(op_col)
            ups_empty = not probe["n_ups"]
        else:
            ups_empty = False
        replay_possible, first[0] = first[0], False
        if replay_possible:
            # a hard crash mid-append leaves the store's (and/or the
            # index's) _lock marker; this stream is the single writer of
            # BOTH (see their contracts), so a marker present at restart
            # can only belong to our crashed predecessor — clear them or
            # every replay would crash-loop on StoreLockedError
            from comet_spark.operators.bm25 import BM25

            store.force_unlock()
            BM25.force_unlock(spark, index_path)
            # heal crashed compacts BEFORE the replay probes: an index
            # crashed mid-swap would otherwise classify as
            # no_index and pay a full rebuild (or worse: see
            # _bm25_index_step's docstring), and a store crashed inside
            # the in-stream tiered compact would stay unreadable
            # forever if the replayed batch then short-circuits on its
            # 'done' marker without ever writing to the store
            BM25.heal(spark, index_path)
            with store._lock("heal"):
                _heal_dir(store._fs, store.data_path)
        if ups_empty:
            # all-deletes batch: no insert side, so no state rows — a
            # replay simply re-applies (idempotent), nothing to probe
            _apply_deletes(spark, dels)
            return
        got = _phases(spark, batch_id)
        if "done" in got:
            # insert side fully processed before the crash; the crash
            # can still have landed between 'done' and the deletes —
            # re-apply (idempotent)
            _apply_deletes(spark, dels)
            return
        if "begin" in got:
            # 'begin' is logged strictly AFTER the store append, so the
            # batch is durable in the store — repair the index only
            _repair_index(
                spark, batch, batch_id,
                _index_batch_state(spark, index_path, batch, id_col),
            )
            _apply_deletes(spark, dels)
            return
        if replay_possible:
            # no state rows, but this may still be a replay whose crash
            # landed around the store append — or whose state log was
            # lost. Probe before touching the store: a fully-committed
            # batch must not land a duplicate segment or crash-loop on
            # the duplicate-id probe.
            state = _index_batch_state(spark, index_path, batch, id_col)
            if state == "committed":
                _log(spark, batch_id, "done")
                _apply_deletes(spark, dels)
                return
            in_store = _newest_segment_has_batch(store, batch, id_col)
            if state == "torn" or in_store:
                if not in_store:
                    store.append(batch)  # make durable before the rebuild
                _repair_index(spark, batch, batch_id, state)
                _apply_deletes(spark, dels)
                _compact_state(spark)
                return
        batch = batch.persist()
        try:
            store.append(batch)
            _log(spark, batch_id, "begin")
            _bm25_index_step(
                batch, index_path,
                id_col=id_col, text_col=text_col,
                normalize=normalize, buckets=buckets,
            )
        finally:
            batch.unpersist()
        _log(spark, batch_id, "done")
        _apply_deletes(spark, dels)
        _compact_state(spark)
        if tiered_compact_every and (batch_id + 1) % tiered_compact_every == 0:
            # AFTER the done marker: a crash mid-compact replays as an
            # already-done batch and the torn swap heals on the next
            # write path's entry — the compact just retries at the next
            # boundary. The stream is the single writer, so taking the
            # store/index locks here can never contend.
            from comet_spark.operators.bm25 import BM25

            BM25.compact(spark, index_path, tiered=True)
            store.compact(tiered=True)

    w = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def sessionize_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
    idle_close_watermark: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based sessions per user; emits a row per CLOSED session, keeps the
    open session in group state across micro-batches. This is the
    Spark-native home for operators the reference would hand-roll
    (SURVEY.md §2.J notes comet has no event-time/state machinery).

    By default (``idle_close_watermark=None``, NoTimeout) a session closes
    only when a LATER event of the same user arrives more than the gap
    after it — each user's final session is never emitted, and state for
    a user who stops arriving lives forever. The production shape passes
    ``idle_close_watermark`` (a delay string, e.g. ``"2 hours"``): the
    input gets ``withWatermark(ts_col, delay)`` and the operator runs
    under ``EventTimeTimeout``, with each update arming a timeout at
    ``last_event + gap`` — when the event-time watermark passes that, the
    idle session EMITS and its state is EVICTED (bounded state under
    users who disappear, the requirement on an unbounded-user firehose).

    Emission rule with timeouts, exactly (for oracles and tests): a
    session is emitted iff a later same-user event closed it, OR
    ``floor(last_us/1000) + gap_ms < watermark_ms`` where ``watermark_ms
    = floor(max_event_us/1000) - delay_ms`` over all events — Spark
    tracks event-time watermarks in whole milliseconds and fires a
    timeout when the watermark strictly exceeds the armed timestamp.

    Ordering contract (both modes): per-user event arrival must be
    in-order across micro-batches (within a batch this fn sorts). Under
    timeouts the watermark makes that safe by construction for any feed
    that is globally ts-ordered across batches: an event that could
    re-open an already-timed-out session would have to be at least the
    delay older than the feed's frontier, which an ordered feed never
    produces."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1_000

    def fn(key, pdfs, state: GroupState):
        if idle_close_watermark is not None and state.hasTimedOut:
            # the watermark passed last_event + gap with no new events:
            # the open session is closed by idleness — emit and evict
            start, last, count = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "session_start": pd.to_datetime([start], unit="us"),
                    "session_end": pd.to_datetime([last], unit="us"),
                    "n_events": [count],
                }
            )
            return
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        ts = (
            pd.concat(parts)[ts_col]
            .astype("datetime64[us]")
            .astype("int64")
            .sort_values()
            .to_numpy()
        )
        if state.exists:
            start, last, count = state.get
        else:
            start, last, count = None, None, 0

        closed = []
        for t in ts:
            t = int(t)
            if start is None:
                start, last, count = t, t, 1
            elif t - last > gap_us:
                closed.append((start, last, count))
                start, last, count = t, t, 1
            else:
                last, count = t, count + 1
        state.update((start, last, count))
        if idle_close_watermark is not None:
            # arm the idle close: fires when the watermark passes the
            # open session's gap horizon. Always > the current watermark
            # because `last` comes from an event this batch accepted
            # (late rows below the watermark never reach this fn).
            state.setTimeoutTimestamp(last // 1000 + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(closed),
                    "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                }
            )

    # the key column keeps ITS OWN type — hardcoding bigint would crash
    # the first micro-batch for string user ids
    user_type = events.schema[user_col].dataType.simpleString()
    if idle_close_watermark is not None:
        events = events.withWatermark(ts_col, idle_close_watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=f"{user_col} {user_type}, session_start timestamp, "
        "session_end timestamp, n_events bigint",
        stateStructType="start bigint, last bigint, count bigint",
        outputMode="update",
        timeoutConf=timeout,
    )


def dedup_stream(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str | None = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ingest: drop re-ingested duplicate content
    by md5 hash. On a stream with ``ts_col``, uses
    ``dropDuplicatesWithinWatermark`` so the state store holds one hash per
    unique document only inside the watermark horizon — bounded state, the
    requirement for a continuously-ingesting 100 TB pipeline (an unbounded
    dropDuplicates would accrete state forever). On a batch DF (or
    ``ts_col=None``) it degrades to plain first-wins dropDuplicates —
    the batch twin the tests compare against."""
    # md5(NULL) is NULL and dropDuplicates treats NULL keys as EQUAL, so
    # distinct no-text docs would all collapse into one row. Null-text
    # rows fall back to a whole-row content key (streaming-safe, unlike
    # monotonically_increasing_id): only fully-identical rows — true
    # duplicates — still dedup. The prefix can't collide with a real
    # 32-hex digest.
    hashed = stream.withColumn(
        "content_hash",
        F.coalesce(
            F.md5(F.col(text_col).cast("binary")),
            F.concat(F.lit("null:"), F.md5(F.to_json(F.struct("*")))),
        ),
    )
    if ts_col is not None and hashed.isStreaming:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return hashed.dropDuplicates(["content_hash"])


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — works on a stream or a batch DF
    (same plan; the batch twin is what the oracle checks)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), key_col, "n_events")
    )


def _parquet_exists(spark, path: str) -> bool:
    """True if ``path`` exists, via the Hadoop FileSystem of the path's
    scheme (so it answers correctly for hdfs:///s3a:// too, not just
    local files). Reaches through the ``_jvm``/``_jsc`` gateway — the
    standard PySpark way to touch the Hadoop FS API, but a private
    surface that pins this to the classic (non-Connect) runtime."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def hll_stream(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    *,
    b: int = 6,
    checkpoint: str | None = None,
):
    """Continuous distinct-counting over a stream: each micro-batch's
    partial HLL registers merge (lossless max, sketch.hll_merge) into a
    parquet register table. State is ≤ 2^b rows per group FOREVER —
    the constant-memory way to track "distinct users/terms/urls so far"
    on a 100 TB/day firehose, where exact distinct state would grow
    without bound. Read the estimate at any time with
    ``hll_estimate(spark.read.parquet(state_path), group_cols)``.

    The merged state is collected to the driver before the overwrite —
    legitimate precisely because the sketch is constant-size (this is
    the sketch's whole point); the per-batch register computation stays
    distributed."""
    from comet_spark.operators.sketch import hll_merge, hll_registers

    def upd(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        part = hll_registers(batch, group_cols, value_col, b=b)
        # Only "no state yet" may fall back to a fresh sketch. A transient
        # read failure (corrupt file, IO error, permissions) must raise so
        # the micro-batch retries — swallowing it here would overwrite and
        # silently discard every accumulated register.
        if _parquet_exists(spark, state_path):
            merged = hll_merge(spark.read.parquet(state_path), part)
        else:
            merged = part
        rows = merged.collect()
        if rows:
            local_frame(spark, rows, merged.schema).repartition(1).write.mode(
                "overwrite"
            ).parquet(state_path)

    w = stream.writeStream.foreachBatch(upd).trigger(availableNow=True)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def cms_stream(
    stream: DataFrame,
    value_col: str,
    state_path: str,
    *,
    d: int = 4,
    w: int = 256,
    checkpoint: str | None = None,
    compact_every: int | None = 16,
):
    """Continuous frequency counting over a stream (count-min sketch).

    CMS partials merge by ADDITION (``sketch.cms_merge``) — unlike
    :func:`hll_stream`'s max, addition is NOT idempotent, so an
    hll_stream-style accumulate-in-place would DOUBLE-COUNT a
    crash-replayed micro-batch. Each batch's d×w partial counter table
    therefore lands as an OVERWRITE of its own ``batch=<id>`` directory
    under ``state_path`` (the same per-batch-partition idempotency the
    near-dup/decontam streams use): a re-delivery rewrites identical
    values instead of adding them twice. Read the live counters at any
    time with :func:`cms_stream_counters` (sum across parts), and point
    estimates with ``sketch.cms_estimate`` over that.

    ``compact_every`` bounds the part count on long streams with an
    LSM-style watermark: at batch N (every ``compact_every`` batches)
    all parts with id < N — which are COMMITTED and can never replay;
    only the in-flight batch can — are summed into a fresh
    ``base_upto=<N-1>`` directory, and the absorbed parts + older bases
    are deleted. Readers take the MAX-upto base and ignore any part
    with id ≤ that watermark, so every crash point (base written but
    parts not yet deleted; old base lingering; compaction replayed) is
    a no-op for the counts — leftover absorbed dirs are shadowed, and
    the re-run's absorb set is empty. State is ≤ d×w rows per live dir.
    """
    from comet_spark.operators.sketch import cms_sketch
    from comet_spark.storage.store import _FS

    def upd(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bid = int(batch_id)
        part = cms_sketch(batch.select(value_col), value_col, d=d, w=w)
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{state_path}/batch={bid}"
        )
        if compact_every and bid > 0 and bid % compact_every == 0:
            _cms_compact(spark, state_path, upto=bid - 1)

    wq = stream.writeStream.foreachBatch(upd).trigger(availableNow=True)
    if checkpoint is not None:
        wq = wq.option("checkpointLocation", checkpoint)
    return wq.start()


def _cms_state_dirs(
    fs, state_path: str
) -> tuple[int, list[int], list[int], list[int], list[int]]:
    """``(watermark, live parts, shadowed parts, stale bases, torn bases)``.

    The watermark is the max ``base_upto=<k>`` whose parquet job
    COMMITTED (``_SUCCESS`` marker present). A base directory without
    the marker is TORN — created by a compaction that crashed mid-write
    — and must never be honored: treating it as the watermark would
    make the replayed compaction's merge a no-op (``upto == old_upto``)
    while the cleanup deletes the absorbed ``batch=<id>`` parts,
    permanently losing their counts (ADVICE r09). Torn bases are
    returned separately so the compactor can drop them; ignoring them
    here already makes the replayed merge re-absorb correctly.

    Shadowed parts (``batch=<id>`` with id ≤ watermark) and stale bases
    (committed bases below the watermark) are returned as SEPARATE
    lists — each is deleted under its own directory prefix (ADVICE
    r09: the old conflated list deleted stale bases at the batch=
    path, a silent no-op only by accident)."""
    names = [n.rsplit("/", 1)[-1] for n in fs.listdir(state_path)]
    all_bases = sorted(
        int(n.split("=", 1)[1]) for n in names if n.startswith("base_upto=")
    )
    committed = [
        b for b in all_bases
        if fs.exists(f"{state_path}/base_upto={b}/_SUCCESS")
    ]
    torn = [b for b in all_bases if b not in committed]
    upto = committed[-1] if committed else -1
    parts = sorted(
        int(n.split("=", 1)[1]) for n in names if n.startswith("batch=")
    )
    return (
        upto,
        [p for p in parts if p > upto],
        [p for p in parts if p <= upto],
        committed[:-1],
        torn,
    )


def _cms_compact(spark, state_path: str, *, upto: int) -> None:
    """Absorb committed parts into ``base_upto=<upto>``: write the new
    base FIRST (readers shadow the absorbed dirs the instant its
    ``_SUCCESS`` marker lands — a torn base is ignored by
    :func:`_cms_state_dirs`, so the replayed compaction re-merges), then
    delete the absorbed parts, superseded bases, and torn bases — pure
    cleanup, crash-safe at every point because the reader's
    committed-max-upto rule never counts a shadowed or torn dir."""
    from comet_spark.operators.sketch import cms_merge
    from comet_spark.storage.store import _FS

    fs = _FS(spark, state_path)
    old_upto, live, _shadowed, _stale, _torn = _cms_state_dirs(fs, state_path)
    absorb = [p for p in live if p <= upto]
    if absorb and upto > old_upto:
        dfs = [spark.read.parquet(f"{state_path}/batch={p}") for p in absorb]
        if old_upto >= 0:
            dfs.append(spark.read.parquet(f"{state_path}/base_upto={old_upto}"))
        merged = cms_merge(*dfs) if len(dfs) > 1 else dfs[0]
        merged.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(
            f"{state_path}/base_upto={upto}"
        )
        if not fs.exists(f"{state_path}/base_upto={upto}/_SUCCESS"):
            # the torn-base gate above keys on the job-commit marker; a
            # cluster with marksuccessfuljobs=false would classify every
            # base as torn and delete it right back — fail loudly (counts
            # are still safe in the un-deleted parts) instead of
            # treadmilling
            raise RuntimeError(
                "cms compaction requires _SUCCESS job-commit markers "
                "(mapreduce.fileoutputcommitter.marksuccessfuljobs) — "
                f"base_upto={upto} landed without one"
            )
    # cleanup: everything now shadowed by the committed max-upto base,
    # each category under its own prefix
    _u, _live, shadowed, stale, torn = _cms_state_dirs(fs, state_path)
    for p in shadowed:
        fs.delete(f"{state_path}/batch={p}")
    for b in stale + torn:
        fs.delete(f"{state_path}/base_upto={b}")


def cms_stream_counters(spark, state_path: str) -> DataFrame:
    """The stream's LIVE counter table ``(i, bucket, c)``: the committed
    max-upto base plus every part above its watermark, summed per cell —
    the exact sketch a batch build over the same rows would produce.

    Readable at any time, including concurrently with the stream: an
    in-stream compaction can delete an absorbed ``batch=<id>`` dir
    between this reader's listing and its scan, failing the read
    transiently (never wrongly — the counts are already in the new
    base). The result is therefore MATERIALIZED here (localCheckpoint,
    d×w rows) and the list-and-read retried once on that race: the
    committed-max-upto rule makes the second attempt consistent, because
    the base the compactor wrote before any delete shadows everything it
    absorbed (ADVICE r09)."""
    from comet_spark.operators.sketch import cms_merge
    from comet_spark.storage.store import _FS

    fs = _FS(spark, state_path)
    last_err: Exception | None = None
    for _attempt in range(2):
        upto, live, _sh, _st, _torn = _cms_state_dirs(fs, state_path)
        try:
            dfs = []
            if upto >= 0:
                dfs.append(
                    spark.read.parquet(f"{state_path}/base_upto={upto}")
                )
            dfs += [
                spark.read.parquet(f"{state_path}/batch={p}") for p in live
            ]
            if not dfs:
                raise FileNotFoundError(f"no CMS state under {state_path}")
            merged = cms_merge(*dfs) if len(dfs) > 1 else dfs[0]
            # materialize inside the retry window: a dir deleted AFTER
            # spark.read resolved it would otherwise fail at the
            # caller's first action, outside any retry
            return merged.localCheckpoint()
        except FileNotFoundError:
            raise  # genuinely empty state — not the compactor race
        except Exception as e:  # noqa: BLE001 — classified below
            msg = f"{type(e).__name__}: {e}"
            if "FileNotFound" not in msg and "PATH_NOT_FOUND" not in msg:
                raise
            last_err = e
    raise RuntimeError(
        f"CMS state under {state_path} unreadable after retry — a "
        "compactor raced both attempts or the state is damaged"
    ) from last_err


def neardup_ingest(
    batch: DataFrame,
    sig_store_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    assume_replay: bool = False,
) -> DataFrame:
    """NEAR-duplicate dedup at ingest (the production shape: drop fuzzy
    re-crawls/re-posts as they arrive, before they cost storage): a
    document is dropped when ANY of its MinHash band signatures collides
    with a previously-ingested document's — the same LSH S-curve as the
    batch pair-miner (``dedup.minhash_lsh_pairs``), applied
    incrementally. Survivors' signatures append to the persistent store
    at ``sig_store_path``, so the filter is cross-batch and survives
    restarts (same durability pattern as ``hll_stream``).

    Within one batch, collisions resolve by GREEDY id order (the exact
    sequential semantics: walk docs by ascending id, keep a doc iff none
    of its band buckets contains an already-KEPT doc) — computed
    distributedly by iterating "decide the undominated docs, remove
    their neighbors" rounds; near-dup collision graphs are shallow, so
    this converges in a handful of rounds (same argument as
    graph.connected_components). Documents with NO band signatures
    (empty/punctuation-only/NULL text — nothing to collide on) pass
    through unconditionally, like ``dedup_stream``'s null-text rule.
    Returns the surviving rows of ``batch`` — **materialize/consume the
    result before the next call**, since the next batch's signatures
    append to the same store.

    Scale shape: the batch side is new data (small relative to history);
    the signature store is ``bands`` rows per kept doc, scanned with a
    semi-join on (band, sig) — at 100 TB of history, store the table
    bucketed by sig so the probe prunes. No all-pairs anything.
    """
    from comet_spark.operators.dedup import minhash_band_signatures
    from comet_spark.storage.store import _FS, _heal_dir, _writer_lock

    spark = batch.sparkSession
    # heal a store stranded mid-compact-swap (live dir absent) BEFORE
    # the collision probe: without the heal the probe sees no store and
    # silently re-admits historical near-duplicates (ADVICE r07). The
    # lock is taken only when the store is absent (a crashed swap, or
    # the very first batch) — a concurrent compactor holding it fails
    # this batch fast instead of racing the swap.
    fs = _FS(spark, sig_store_path)
    if not fs.exists(sig_store_path):
        with _writer_lock(fs, f"{sig_store_path}._lock", "neardup_ingest heal"):
            _heal_dir(fs, sig_store_path)
    sigs = minhash_band_signatures(
        batch, id_col=id_col, text_col=text_col, n=n, n_hashes=n_hashes,
        bands=bands,
    ).cache()
    # docs that produced ≥1 signature; everything else (empty/NULL text —
    # no shingles, nothing to collide on) passes through unconditionally
    banded_ids = sigs.select("id").distinct().localCheckpoint()

    # 1) drop docs colliding with HISTORY. With ``assume_replay=True``
    # the probe excludes signatures written under the batch's OWN ids:
    # an id identifies a document, so on a REPLAY (a retry of this very
    # batch after a crash that landed past the signature append) the
    # batch's previous-attempt signatures must not count as history —
    # the batch would otherwise collide with itself and silently drop
    # every doc. With the exclusion the recomputation sees the store
    # exactly as the first attempt did (other ids' rows are immutable),
    # keeps the same survivors, and re-appends byte-identical signature
    # rows the semi-join probe is insensitive to. The flag is scoped to
    # batches that CAN be replays (a caller's retry; the stream wrapper
    # passes it for the first batch after a restart only) because the
    # exclusion also waves through a same-id redelivery from an
    # at-least-once source — on an ordinary batch that redelivery
    # should dedup as before.
    if _parquet_exists(spark, sig_store_path):
        seen = spark.read.parquet(sig_store_path)
        if assume_replay:
            batch_ids = batch.select(F.col(id_col).alias("id")).distinct()
            seen = seen.join(batch_ids, "id", "left_anti")
        hist_hits = (
            sigs.join(seen, ["band", "sig"], "left_semi").select("id").distinct()
        )
        fresh = sigs.join(hist_hits, "id", "left_anti")
    else:
        fresh = sigs

    # 2) within-batch greedy by id. One round of "min id per bucket wins"
    # is NOT the greedy semantics: a doc whose only collisions are with
    # DROPPED docs must be kept (its content would otherwise have no
    # representative in the signature store, and an identical re-crawl
    # next batch would sail through). Iterate: docs that are the min of
    # every bucket they occupy are KEPT; every doc sharing a bucket with
    # a kept doc is DROPPED; undecided docs go another round with the
    # decided ones removed. Each round decides at least the global min,
    # and collision chains are shallow in practice.
    kept = None
    cur = fresh.localCheckpoint()
    while cur.limit(1).count() > 0:
        bucket_min = cur.groupBy("band", "sig").agg(F.min("id").alias("min_id"))
        dominated = (
            cur.join(bucket_min, ["band", "sig"])
            .filter(F.col("id") > F.col("min_id"))
            .select("id")
            .distinct()
        )
        winners = cur.join(dominated, "id", "left_anti")  # min of ALL their buckets
        # drop everything sharing a bucket with a winner (incl. the winner
        # rows themselves, removed from `cur` as decided)
        hit_buckets = winners.select("band", "sig").distinct()
        losers = (
            cur.join(hit_buckets, ["band", "sig"], "left_semi")
            .select("id")
            .distinct()
            .join(winners.select("id").distinct(), "id", "left_anti")
        )
        kept = winners if kept is None else kept.unionByName(winners)
        decided = winners.select("id").unionByName(losers).distinct()
        cur = cur.join(decided, "id", "left_anti").localCheckpoint()
    survivors = kept if kept is not None else fresh
    # sever the lineage from the store BEFORE appending to it: the append
    # triggers recacheByPath on sig_store_path, which would refresh any
    # cached/lazy plan reading the store and make it see this batch's own
    # just-written signatures as "history" (verified: survivors collapse
    # to empty without this). localCheckpoint materializes the batch's
    # survivor signatures on the executors — batch-sized, never driver-
    # collected — and truncates the plan.
    surv_sigs = survivors.select("band", "sig", "id").localCheckpoint()

    # 3) persist survivors' signatures (append = new immutable files, the
    # same segment discipline as DocumentStore)
    surv_sigs.write.mode("append").parquet(sig_store_path)
    sigs.unpersist()

    kept_ids = (
        surv_sigs.select("id")
        .distinct()
        .unionByName(
            batch.select(F.col(id_col).alias("id")).join(
                banded_ids, "id", "left_anti"
            )
        )
        .distinct()
    )
    return batch.join(
        kept_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )


def pin_eval_shingles(
    eval_docs: DataFrame, path: str, *,
    id_col: str = "doc_id", text_col: str = "text", n: int = 8,
) -> None:
    """Pin the eval/benchmark set's distinct word n-grams to parquet —
    the restart-durable contamination filter ``decontam_ingest`` probes.
    Run ONCE per benchmark suite (suites are MBs; the shingle table is
    smaller still after distinct); every later micro-batch, across
    restarts, checks against the same pinned set."""
    from comet_spark.operators.dedup import shingles

    shingles(eval_docs, id_col=id_col, text_col=text_col, n=n).select(
        "shingle"
    ).distinct().write.mode("overwrite").parquet(path)


def decontam_ingest(
    batch: DataFrame,
    eval_shingles: str | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    mode: str = "drop",
) -> DataFrame:
    """Ingest-time benchmark decontamination (GPT-3 appendix C rule:
    drop a train doc if ANY of its word n-grams occurs in the eval set) —
    the streaming twin of the batch audit ``contamination.decontaminate``,
    completing the ingest-guard trio with ``dedup_stream`` (exact) and
    ``neardup_ingest`` (fuzzy).

    The pinned eval shingle table (see :func:`pin_eval_shingles`) is
    **broadcast** into a semi-join against the batch's shingles: the
    batch side is scanned once and never shuffled for the join; map-side
    hash probes discard nearly every row at n=8+ (collision rate ~0).
    Unlike ``neardup_ingest`` there is no accumulating state — the eval
    set is static — so restart durability is just the pinned parquet.

    ``mode='drop'`` returns only clean rows; ``mode='flag'`` returns all
    rows with an ``is_contaminated`` boolean, for pipelines that
    quarantine instead of discard (per-source drop accounting stays with
    the batch audit, which reports counts and fractions).
    """
    from comet_spark.operators.dedup import shingles

    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    spark = batch.sparkSession
    # accept the pinned path OR an already-loaded shingle DataFrame —
    # the stream wrapper loads once and reuses it across micro-batches
    # instead of re-reading static data every batch
    ev = (
        eval_shingles
        if isinstance(eval_shingles, DataFrame)
        else spark.read.parquet(eval_shingles)
    )
    sh = shingles(batch, id_col=id_col, text_col=text_col, n=n)
    bad = (
        sh.join(F.broadcast(ev), "shingle", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    if mode == "drop":
        return batch.join(bad, id_col, "left_anti")
    return batch.join(
        bad.withColumn("is_contaminated", F.lit(True)), id_col, "left"
    ).withColumn("is_contaminated", F.coalesce("is_contaminated", F.lit(False)))


def decontam_ingest_stream(
    stream: DataFrame,
    eval_shingles_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Streaming wrapper: each micro-batch passes through
    :func:`decontam_ingest` (drop mode) and clean rows land under
    ``out_path/batch=<id>``. By default (``trigger_available_now=True``,
    the same knob as :func:`ingest_stream`) the query drains the files
    present at start and stops — the batch-parity test shape; pass
    ``False`` for a long-running query that keeps decontaminating files
    as they arrive.

    Replay-idempotent WITHIN one checkpoint lineage: the decision is a
    pure function of the static eval set, and each batch OVERWRITES its
    own ``batch=<id>`` partition directory — a batch replayed after a
    crash rewrites the identical rows instead of appending duplicates.
    A FRESH checkpoint restarts batch numbering (batches may regroup —
    resume with the original checkpoint or a fresh ``out_path``); a
    legacy flat-layout ``out_path`` is refused up front. Readers
    ``spark.read.parquet(out_path)`` as usual (the layout adds a
    ``batch`` provenance column)."""

    # the eval set is static by design: load it ONCE (cached — suites
    # are MBs) and reuse the same DataFrame for every micro-batch
    ev = stream.sparkSession.read.parquet(eval_shingles_path).cache()
    first = [True]

    def upd(batch: DataFrame, batch_id: int) -> None:
        if first[0]:
            _reject_legacy_flat_output(batch.sparkSession, out_path)
            first[0] = False
        decontam_ingest(
            batch, ev, id_col=id_col, text_col=text_col, n=n
        ).write.mode("overwrite").parquet(f"{out_path}/batch={int(batch_id)}")

    w = stream.writeStream.foreachBatch(upd)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()

    # release the cached eval table when the query terminates (availableNow
    # drains and stops; long-running queries free it at stop()) — an app
    # launching one stream per suite must not accumulate pinned caches
    import threading

    def _release() -> None:
        try:
            # a failing query raises StreamingQueryException here — the
            # caller surfaces that through their own awaitTermination;
            # this watcher only exists to free the cache afterwards
            q.awaitTermination()
        except Exception:
            pass
        finally:
            try:
                ev.unpersist()
            except Exception:
                pass

    threading.Thread(target=_release, daemon=True).start()
    return q


def neardup_ingest_stream(
    stream: DataFrame,
    sig_store_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Streaming wrapper: each micro-batch passes through
    :func:`neardup_ingest` and survivors land under
    ``out_path/batch=<id>`` — continuous fuzzy-dedup'd ingestion.

    Replay-idempotent WITHIN one checkpoint lineage: only the first
    batch after a (re)start can be a Spark replay, and for exactly that
    batch the dedup recomputation ignores the batch's own
    previously-written signatures (``assume_replay`` — see
    :func:`neardup_ingest`; ordinary batches keep full same-id dedup),
    while every batch's survivors OVERWRITE their own ``batch=<id>``
    partition directory instead of appending — the replay rewrites the
    identical rows in place, never duplicates them. Re-pointing a FRESH
    checkpoint at a partially-processed source restarts batch numbering
    and is NOT covered (batches may regroup under different ids,
    leaving stale partitions) — resume with the original checkpoint, or
    start a fresh ``out_path``; a legacy flat-layout ``out_path``
    (written by the pre-partitioned version) is refused up front rather
    than mixed. Readers ``spark.read.parquet(out_path)`` as usual; the
    hive-style layout surfaces the micro-batch id as a ``batch``
    provenance column for free."""
    first = [True]

    def upd(batch: DataFrame, batch_id: int) -> None:
        from comet_spark.storage.store import _FS

        replay_possible, first[0] = first[0], False
        if replay_possible:
            _reject_legacy_flat_output(batch.sparkSession, out_path)
            # a hard crash inside compact_sig_store leaves its lock
            # marker; this stream is the sig store's single writer, so a
            # marker at restart can only be our crashed predecessor's —
            # clear it or the boundary compact would crash-loop (same
            # contract as bm25_ingest_stream's force_unlock)
            _FS(batch.sparkSession, sig_store_path).delete(
                f"{sig_store_path}._lock"
            )
        kept = neardup_ingest(
            batch, sig_store_path, id_col=id_col, text_col=text_col,
            n=n, n_hashes=n_hashes, bands=bands,
            assume_replay=replay_possible,
        )
        kept.write.mode("overwrite").parquet(f"{out_path}/batch={int(batch_id)}")
        # keep the store's file count bounded on a long-running stream
        # (this foreachBatch is the store's single writer)
        compact_sig_store(batch.sparkSession, sig_store_path, min_files=64)

    w = stream.writeStream.foreachBatch(upd).trigger(availableNow=True)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
