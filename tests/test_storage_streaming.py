"""DocumentStore (LSM parity: segments, soft deletes, merged view,
compaction) + Structured Streaming ingest + multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from comet_spark.multimodal import (
    attach_media_stub,
    audio_duration,
    frame_sample,
    image_features,
)
from comet_spark.storage.store import DocumentStore
from comet_spark.streaming.ingest import stream_into_store, windowed_event_counts
from tests.conftest import rename_crash_points


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(spark, str(tmp_path / "store"))


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id bigint, text string")


def test_segments_and_newest_wins(spark, store):
    store.append(_batch(spark, [(1, "v1"), (2, "v1")]))
    store.append(_batch(spark, [(2, "v2"), (3, "v1")]))  # doc 2 updated
    assert store.segment_count() == 2
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "v1", 2: "v2", 3: "v1"}


def test_soft_delete_then_compact(spark, store):
    store.append(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]))
    store.append(_batch(spark, [(4, "d")]))
    store.delete(spark.createDataFrame([(2,)], "id bigint"))
    assert sorted(r["id"] for r in store.read().collect()) == [1, 3, 4]

    store.compact()
    assert store.segment_count() == 1
    # deletes applied hard; results unchanged after flush (FIXTURES.md §5)
    assert sorted(r["id"] for r in store.read().collect()) == [1, 3, 4]


def test_streaming_ingest_into_segments(spark, store, tmp_path):
    # deterministic source: two parquet files, one micro-batch each
    src_dir = str(tmp_path / "incoming")
    _batch(spark, [(1, "a"), (2, "b")]).coalesce(1).write.mode("append").parquet(src_dir)
    _batch(spark, [(3, "c")]).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = stream_into_store(stream, store, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # each micro-batch flushed one immutable segment (J1-J3)
    assert store.segment_count() == 2
    assert sorted(r["id"] for r in store.read().collect()) == [1, 2, 3]


def test_bm25_ingest_stream_keeps_index_fresh(spark, store, tmp_path):
    """Streaming ingest with a LIVE text index: each micro-batch appends
    a store segment AND a postings segment; after the stream drains, the
    persisted index scores exactly like a fresh build over store.read()
    — maintenance under ingest for the text side, with no rebuild."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    src_dir = str(tmp_path / "incoming")
    _batch(spark, [(1, "spark joins tables"), (2, "spark streams data")]).coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    _batch(spark, [(3, "tables of data"), (4, "fast spark scans")]).coalesce(
        1
    ).write.mode("append").parquet(src_dir)

    ix_path = str(tmp_path / "bm25_live")
    stream = (
        spark.readStream.schema("id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = bm25_ingest_stream(
        stream, store, ix_path, checkpoint=str(tmp_path / "ckpt"), buckets=4
    )
    q.awaitTermination(120)

    assert store.segment_count() == 2
    live = BM25.read(spark, ix_path)
    fresh = BM25(store.read())
    want = [tuple(r) for r in fresh.score("spark tables", k=0).collect()]
    assert [tuple(r) for r in live.score("spark tables", k=0).collect()] == want
    # two postings segments on disk — appended, not rebuilt
    assert spark.read.parquet(f"{ix_path}/stats").count() == 2

    # replayed batches are idempotent on the index side: a second run of
    # the SAME drained source with a fresh checkpoint re-delivers both
    # batches; their 'done' rows in the state log must skip them
    q2 = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt2"), buckets=4,
    )
    q2.awaitTermination(120)
    again = BM25.read(spark, ix_path)
    assert [tuple(r) for r in again.score("spark tables", k=0).collect()] == want
    assert spark.read.parquet(f"{ix_path}/stats").count() == 2


def test_bm25_ingest_stream_heals_torn_batch(spark, store, tmp_path):
    """A replayed batch whose 'begin' was logged but never reached 'done'
    means the previous attempt crashed somewhere around the index append.
    Here the index never saw the batch (state 'absent'), so the heal is
    the cheap O(batch) index append — NOT a full rebuild, and never a
    wedge on the duplicate-id probe."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    batch_a = [(1, "spark joins tables"), (2, "spark streams data")]
    batch_b = [(3, "tables of data"), (4, "fast spark scans")]
    # torn state: the store durably has BOTH batches (store.append precedes
    # the 'begin' log), the index only has A — the crash landed inside
    # B's index append, after its 'begin' row, before any index write
    store.append(_batch(spark, batch_a))
    store.append(_batch(spark, batch_b))
    ix_path = str(tmp_path / "bm25_torn")
    BM25(_batch(spark, batch_a)).write(ix_path, buckets=4)
    spark.createDataFrame(
        [(0, "begin")], "batch_id bigint, phase string"
    ).repartition(1).write.mode("append").parquet(f"{ix_path}/_ingest_state")

    # the replayed micro-batch re-delivers B as batch_id 0
    src_dir = str(tmp_path / "replay_src")
    _batch(spark, batch_b).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_heal"), buckets=4,
    )
    q.awaitTermination(120)

    healed = BM25.read(spark, ix_path)
    fresh = BM25(store.read())
    assert [tuple(r) for r in healed.score("spark tables", k=0).collect()] == [
        tuple(r) for r in fresh.score("spark tables", k=0).collect()
    ]
    # the index is healthy + the batch was absent -> appended (2 segments),
    # no full rebuild, no duplicate store segment; batch 0 closed
    assert spark.read.parquet(f"{ix_path}/stats").count() == 2
    assert store.segment_count() == 2
    log = {
        (r["batch_id"], r["phase"])
        for r in spark.read.parquet(f"{ix_path}/_ingest_state").collect()
    }
    assert (0, "done") in log


def test_bm25_ingest_stream_lost_done_marker_no_crash_loop(spark, store, tmp_path):
    """Crash-injection (VERDICT r06 #2): the previous run fully committed
    the batch to BOTH sinks but crashed before any state row landed (the
    marker write is the last step; here the whole state log is deleted —
    the strictly harder case). The replay must probe the index, see the
    batch committed, write the marker and move on: NO duplicate store
    segment, NO crash-loop on the duplicate-id probe, NO rebuild."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest, bm25_ingest_stream

    batch_a = [(1, "spark joins tables"), (2, "spark streams data")]
    ix_path = str(tmp_path / "bm25_lost_marker")
    # a fully successful ingest step: store segment + index both landed
    bm25_ingest(store, _batch(spark, batch_a), ix_path, buckets=4)
    assert store.segment_count() == 1
    want = [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ]
    # ...but the crash beat every marker write (simulate: no state log)
    import shutil

    shutil.rmtree(f"{ix_path}/_ingest_state", ignore_errors=True)

    src_dir = str(tmp_path / "replay_src")
    _batch(spark, batch_a).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_lost"), buckets=4,
    )
    q.awaitTermination(120)

    assert store.segment_count() == 1  # no duplicate store segment
    assert spark.read.parquet(f"{ix_path}/stats").count() == 1  # no rebuild
    got = [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ]
    assert got == want
    log = {
        (r["batch_id"], r["phase"])
        for r in spark.read.parquet(f"{ix_path}/_ingest_state").collect()
    }
    assert (0, "done") in log


def test_bm25_ingest_stream_committed_begin_skips_rebuild(spark, store, tmp_path):
    """Crash between the index append and the 'done' marker: 'begin'
    exists, the index probe proves the batch committed — the heal writes
    the marker only, preserving the appended two-segment index shape
    (a rebuild would collapse it to one)."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    batch_a = [(1, "spark joins tables"), (2, "spark streams data")]
    batch_b = [(3, "tables of data"), (4, "fast spark scans")]
    store.append(_batch(spark, batch_a))
    store.append(_batch(spark, batch_b))
    ix_path = str(tmp_path / "bm25_committed")
    BM25(_batch(spark, batch_a)).write(ix_path, buckets=4)
    BM25.append(spark, ix_path, _batch(spark, batch_b))
    spark.createDataFrame(
        [(0, "done"), (1, "begin")], "batch_id bigint, phase string"
    ).repartition(1).write.mode("append").parquet(f"{ix_path}/_ingest_state")

    src_dir = str(tmp_path / "replay_src2")
    _batch(spark, batch_a).coalesce(1).write.mode("append").parquet(src_dir)
    _batch(spark, batch_b).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_committed"), buckets=4,
    )
    q.awaitTermination(120)

    assert store.segment_count() == 2            # no duplicate segment
    assert spark.read.parquet(f"{ix_path}/stats").count() == 2  # no rebuild
    fresh = BM25(store.read())
    assert [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ] == [tuple(r) for r in fresh.score("spark tables", k=0).collect()]
    log = {
        (r["batch_id"], r["phase"])
        for r in spark.read.parquet(f"{ix_path}/_ingest_state").collect()
    }
    assert (1, "done") in log


def test_bm25_ingest_stream_rebuilds_genuinely_torn_index(spark, store, tmp_path):
    """Crash-injection for the rarest branch: the previous attempt's
    index append TORE mid-write (the batch's doc_len segment landed but
    its stats commit record did not — ledger mismatch), with 'begin'
    logged. The heal must classify 'torn' and rebuild from store.read(),
    leaving a consistent single-segment index."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    batch_a = [(1, "spark joins tables"), (2, "spark streams data")]
    batch_b = [(3, "tables of data"), (4, "fast spark scans")]
    store.append(_batch(spark, batch_a))
    store.append(_batch(spark, batch_b))
    ix_path = str(tmp_path / "bm25_genuine_torn")
    BM25(_batch(spark, batch_a)).write(ix_path, buckets=4)
    # the tear: B's doc_len segment exists, nothing else of B does
    spark.createDataFrame([(3, 3), (4, 3)], "id bigint, dl bigint").write.mode(
        "append"
    ).parquet(f"{ix_path}/doc_len")
    spark.createDataFrame(
        [(0, "begin")], "batch_id bigint, phase string"
    ).repartition(1).write.mode("append").parquet(f"{ix_path}/_ingest_state")

    src_dir = str(tmp_path / "torn_src")
    _batch(spark, batch_b).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_torn"), buckets=4,
    )
    q.awaitTermination(120)

    healed = BM25.read(spark, ix_path)
    fresh = BM25(store.read())
    assert [tuple(r) for r in healed.score("spark tables", k=0).collect()] == [
        tuple(r) for r in fresh.score("spark tables", k=0).collect()
    ]
    # rebuilt: one stats row, consistent ledger, no duplicate store segment
    assert spark.read.parquet(f"{ix_path}/stats").count() == 1
    assert spark.read.parquet(f"{ix_path}/doc_len").count() == 4
    assert store.segment_count() == 2
    log = {
        (r["batch_id"], r["phase"])
        for r in spark.read.parquet(f"{ix_path}/_ingest_state").collect()
    }
    assert (0, "done") in log


def test_bm25_ingest_torn_index_rebuilds(spark, store, tmp_path):
    """Non-streaming twin of the torn heal: a replayed bm25_ingest whose
    previous index append tore (batch ids present but the stats ledger
    mismatches) must rebuild from the store instead of wedging on the
    duplicate-id probe."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest

    rows = [(1, "spark joins tables"), (2, "spark streams data")]
    ix_path = str(tmp_path / "bm25_ingest_torn")
    bm25_ingest(store, _batch(spark, rows), ix_path, buckets=4)
    # injected tear: an orphan doc_len segment with no stats partial
    spark.createDataFrame([(99, 3)], "id bigint, dl bigint").write.mode(
        "append"
    ).parquet(f"{ix_path}/doc_len")

    bm25_ingest(store, _batch(spark, rows), ix_path, buckets=4)  # replay
    # rebuilt from store.read(): orphan gone, ledger consistent again
    assert spark.read.parquet(f"{ix_path}/doc_len").count() == 2
    assert spark.read.parquet(f"{ix_path}/stats").count() == 1
    fresh = BM25(store.read())
    assert [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ] == [tuple(r) for r in fresh.score("spark tables", k=0).collect()]


def test_bm25_ingest_stream_clears_stale_writer_lock(spark, store, tmp_path):
    """A hard crash mid-append leaves the store's _lock marker; the
    restarted stream is the store's single writer, so it must clear the
    stale marker on its first batch instead of crash-looping on
    StoreLockedError."""
    from comet_spark.streaming.ingest import bm25_ingest_stream

    assert store._fs.create_new(store.lock_path)  # crashed predecessor
    src_dir = str(tmp_path / "lock_src")
    _batch(spark, [(1, "spark clears locks")]).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    ix_path = str(tmp_path / "bm25_lock")
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_lock"), buckets=4,
    )
    q.awaitTermination(120)
    assert store.segment_count() == 1
    assert not store._fs.exists(store.lock_path)


def test_bm25_ingest_stream_state_log_compacts(spark, store, tmp_path):
    """ADVICE r06: the append-only state log must not grow without bound
    on a long-running stream — once it accumulates ~64 files it is
    collapsed to its max-'done' watermark row (Spark replays at most the
    latest uncommitted batch, so older rows can never be consulted
    again)."""
    from comet_spark.streaming.ingest import bm25_ingest_stream

    ix_path = str(tmp_path / "bm25_statelog")
    state = f"{ix_path}/_ingest_state"
    # seed a long-lived stream's accumulated log: 34 completed batches,
    # one file per row (the shape 68 tiny appends leave behind)
    rows = [(i, p) for i in range(1, 35) for p in ("begin", "done")]
    seed = spark.createDataFrame(rows, "batch_id bigint, phase string").repartition(68)
    seed.write.mode("append").parquet(state)
    seed.write.mode("append").parquet(state)  # duplicate rows are harmless
    import glob

    assert len(glob.glob(f"{state}/part-*")) >= 64

    src_dir = str(tmp_path / "state_src")
    _batch(spark, [(100, "spark compacts logs")]).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt_state"), buckets=4,
    )
    q.awaitTermination(120)

    # collapsed to the single watermark row in O(1) files
    got = [tuple(r) for r in spark.read.parquet(state).collect()]
    assert got == [(34, "done")]
    assert len(glob.glob(f"{state}/part-*")) <= 2


def test_bm25_ingest_replay_is_idempotent_on_index(spark, store, tmp_path):
    """Non-streaming bm25_ingest replayed with the SAME batch (a caller's
    own foreachBatch retry after a crash that landed past the index
    append): the duplicate-id probe fires, the committed probe recognizes
    the batch, and the call is a no-op on the index — no crash-loop. The
    replayed store.append leaves one documented duplicate segment, which
    the newest-wins read hides and compaction removes."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest

    rows = [(1, "spark joins tables"), (2, "spark streams data")]
    ix_path = str(tmp_path / "bm25_replay")
    bm25_ingest(store, _batch(spark, rows), ix_path, buckets=4)
    want = [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ]
    bm25_ingest(store, _batch(spark, rows), ix_path, buckets=4)  # replay
    assert spark.read.parquet(f"{ix_path}/stats").count() == 1  # index no-op
    got = [
        tuple(r)
        for r in BM25.read(spark, ix_path).score("spark tables", k=0).collect()
    ]
    assert got == want
    assert store.segment_count() == 2  # documented duplicate segment
    assert store.read().count() == 2   # hidden by newest-wins
    store.compact()
    assert store.segment_count() == 1


def test_windowed_event_counts_batch_twin(spark):
    rows = [
        ("2024-01-01 00:10:00", "click"),
        ("2024-01-01 00:50:00", "click"),
        ("2024-01-01 01:10:00", "view"),
    ]
    df = spark.createDataFrame(rows, "ts string, event_type string").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in windowed_event_counts(df).collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_multimodal_pipeline(spark):
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    media = attach_media_stub(docs)
    assert media.columns == [
        "media_id", "payload", "media_type", "width", "height", "sample_rate", "n_frames",
    ]

    feats = image_features(media, dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert {r["media_id"] % 3 for r in feats} == {0}  # only images
    # deterministic: same payload → same features across runs
    again = {r["media_id"]: r["features"] for r in image_features(media, dim=8).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in feats)

    frames = frame_sample(media, every_n=100).collect()
    assert all(r["frame_idx"] % 100 == 0 for r in frames)
    assert all(isinstance(r["frame"], (bytes, bytearray)) for r in frames)

    dur = audio_duration(media).collect()
    assert all(r["duration_s"] > 0 for r in dur)


def test_real_decode_is_gated(spark):
    media = attach_media_stub(spark.range(0, 3).select(F.col("id").alias("doc_id")))
    with pytest.raises(NotImplementedError):
        frame_sample(media, decode_mode="real")


def test_streaming_windowed_aggregation(spark, tmp_path):
    """windowed_event_counts over an actual stream (file source → memory
    sink), not just the batch twin."""
    src_dir = str(tmp_path / "events_in")
    rows = [
        ("2024-01-01 00:10:00", "click"),
        ("2024-01-01 00:50:00", "click"),
        ("2024-01-01 01:10:00", "view"),
    ]
    df = spark.createDataFrame(rows, "ts string, event_type string").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(src_dir)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_search_over_store_roundtrip(spark, store):
    """§3.3 persistent-search lifecycle: hybrid corpus served from the
    store (hot segment + soft deletes) gives the same k-NN as the source,
    and the serialization round-trip (A8) loses nothing."""
    import pyspark.sql.functions as F
    from comet_spark.operators.knn import knn
    from tests.conftest import SF_DIR_SMALL

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base = emb.filter(F.col("id") < 400)
    hot = emb.filter(F.col("id") >= 400)
    store.append(base)
    store.append(hot)  # hot segment
    store.delete(spark.createDataFrame([(7,), (13,)], "id bigint"))

    qdf = emb.filter(F.col("id") == 0).select(
        F.lit(0).alias("qid"), F.col("vector").alias("qvec")
    )
    direct = knn(emb.join(spark.createDataFrame([(7,), (13,)], "id bigint"), "id", "left_anti"),
                 qdf, k=10).collect()
    via_store = knn(store.read(), qdf, k=10).collect()
    assert [tuple(r) for r in via_store] == [tuple(r) for r in direct]
    assert all(r["id"] not in (7, 13) for r in via_store)

    store.compact()
    after = knn(store.read(), qdf, k=10).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in direct]


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emit, the
    open session stays in group state."""
    from comet_spark.streaming.ingest import sessionize_stream

    rows = [
        # user 1: session A (2 events), then a 2h gap -> session B (open)
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 02:30:00"),
        # user 2: one open session
        (2, "2024-01-01 00:05:00"),
    ]
    src_dir = str(tmp_path / "sess_in")
    df = spark.createDataFrame(rows, "user_id bigint, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    ]
    # only user 1's first session closed (2 events, 00:00-00:10)
    assert got == [(1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2)]


def test_corpus_store_roundtrip_search(spark, store):
    """Corpus.to_store/from_store: full search round-trip through the
    serialization layer gives identical hybrid results."""
    from comet_spark.plans.builder import Corpus
    from tests.conftest import SF_DIR_SMALL

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        docs["doc_id"].alias("id"), emb["embedding"].alias("vector"),
        docs["text"], docs["lang"],
    )
    corpus = Corpus(joined)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    before = corpus.vector_search().with_query(qvec).with_k(10).execute().collect()
    corpus.to_store(store)
    reopened = Corpus.from_store(store)
    after = reopened.vector_search().with_query(qvec).with_k(10).execute().collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dedup_stream drops re-ingested duplicate content over an actual
    stream (file source -> append memory sink) and its batch twin gives
    the same distinct set."""
    from comet_spark.streaming.ingest import dedup_stream

    src_dir = str(tmp_path / "docs_in")
    rows = [
        ("2024-01-01 00:00:01", 1, "alpha beta"),
        ("2024-01-01 00:00:02", 2, "gamma delta"),
        ("2024-01-01 00:00:03", 3, "alpha beta"),   # dup of 1
        ("2024-01-01 00:00:04", 4, "epsilon"),
        ("2024-01-01 00:00:05", 5, "gamma delta"),  # dup of 2
    ]
    df = spark.createDataFrame(rows, "ts string, id bigint, text string").select(
        F.col("ts").cast("timestamp").alias("ts"), "id", "text"
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("ts timestamp, id bigint, text string").parquet(src_dir)
    q = (
        dedup_stream(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["text"] for r in spark.sql("select * from dedup_out").collect())
    assert got == ["alpha beta", "epsilon", "gamma delta"]

    batch = dedup_stream(df, ts_col=None)
    assert sorted(r["text"] for r in batch.collect()) == got


def test_streaming_hll_state_matches_batch_sketch(spark, tmp_path):
    """hll_stream's merged register state after consuming the stream is
    EXACTLY the single-pass batch sketch (lossless merge), so the
    streaming estimate equals the batch estimate."""
    from comet_spark.operators.sketch import hll_distinct, hll_estimate
    from comet_spark.streaming.ingest import hll_stream

    src_dir = str(tmp_path / "hll_in")
    rows = [("g", f"u{i % 37}") for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v string")
    # two files -> at least one micro-batch each under availableNow
    df.filter(F.md5("v").startswith("a")).coalesce(1).write.mode("append").parquet(src_dir)
    df.filter(~F.md5("v").startswith("a")).coalesce(1).write.mode("append").parquet(src_dir)

    state = str(tmp_path / "hll_state")
    stream = spark.readStream.schema("g string, v string").parquet(src_dir)
    q = hll_stream(stream, ["g"], "v", state, checkpoint=str(tmp_path / "ckpt_hll"))
    q.awaitTermination(120)

    est_stream = hll_estimate(spark.read.parquet(state), ["g"]).first()["est_distinct"]
    est_batch = hll_distinct(df, ["g"], "v").first()["est_distinct"]
    assert est_stream == est_batch


def test_cms_stream_matches_batch_and_compacts(spark, tmp_path):
    """cms_stream's live counters after consuming the stream equal the
    single-pass batch sketch (addition merge across per-batch parts +
    the compacted base), and the compaction watermark shadows absorbed
    parts: after compact_every=2 fires at batch 2, parts 0/1 are gone
    and base_upto=1 holds their sums."""
    import os

    from comet_spark.operators.sketch import cms_sketch
    from comet_spark.streaming.ingest import cms_stream, cms_stream_counters

    src_dir = str(tmp_path / "cms_in")
    rows = [(i, f"u{i % 23}") for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v string")
    for m in range(3):  # three files → three micro-batches
        df.filter(F.col("id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    state = str(tmp_path / "cms_state")
    q = cms_stream(
        spark.readStream.schema("id bigint, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        "v", state, checkpoint=str(tmp_path / "ckpt_cms"), compact_every=2,
    )
    assert q.awaitTermination(120)

    names = set(os.listdir(state))
    assert "base_upto=1" in names and not {"batch=0", "batch=1"} & names
    got = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_stream_counters(spark, state).collect()
    }
    want = {
        (r["i"], r["bucket"]): r["c"] for r in cms_sketch(df, "v").collect()
    }
    assert got == want
    # a re-delivered batch must not double-count: rewriting batch=2's
    # partition (what a crash-replay does) leaves the counters unchanged
    part2 = cms_sketch(
        df.filter(F.col("id") % 3 == 2).select("v"), "v"
    )
    part2.coalesce(1).write.mode("overwrite").parquet(f"{state}/batch=2")
    got2 = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_stream_counters(spark, state).collect()
    }
    assert got2 == want


def test_hll_stream_state_errors_propagate(spark, tmp_path):
    """Only a MISSING state path may fall back to a fresh sketch; a
    corrupt state file must raise so the micro-batch retries instead of
    overwriting (and thus discarding) the accumulated registers."""
    from comet_spark.streaming.ingest import _parquet_exists

    state = str(tmp_path / "hll_state")
    assert not _parquet_exists(spark, state)
    # corrupt state: path exists but is not parquet
    import os

    os.makedirs(state)
    with open(os.path.join(state, "part-0.parquet"), "w") as fh:
        fh.write("not parquet")
    assert _parquet_exists(spark, state)
    with pytest.raises(Exception):
        spark.read.parquet(state).collect()


def test_store_reappend_after_delete_is_visible(spark, tmp_path):
    """LSM sequencing: a delete hides only versions written BEFORE it —
    re-appending the id afterwards must be visible (deletion vectors
    apply to files present at delete time), and compaction must preserve
    that."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "seqstore"))
    store.append(spark.createDataFrame([(1, "v1"), (2, "x")], "id bigint, text string"))
    store.delete(spark.createDataFrame([(1,)], "id bigint"))
    store.append(spark.createDataFrame([(1, "v2")], "id bigint, text string"))
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "v2", 2: "x"}
    store.compact()
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "v2", 2: "x"}
    # and a delete AFTER compaction still works
    store.delete(spark.createDataFrame([(2,)], "id bigint"))
    assert {r["id"] for r in store.read().collect()} == {1}


def test_store_fresh_handle_writes_cost_no_extra_job(spark, tmp_path):
    """A fresh handle's first append/delete on a store that already holds
    a delete runs as many Spark jobs as its second: opening a handle
    costs no probe of the delete files."""
    from comet_spark.storage.store import DocumentStore
    from tests.test_local_frame import _jobs

    path = str(tmp_path / "freshjobs")
    store = DocumentStore(spark, path)
    store.append(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, text string"))
    store.delete(spark.createDataFrame([(2,)], "id bigint"))

    def _delete(h, i):
        return lambda: h.delete(spark.createDataFrame([(i,)], "id bigint"))

    def _append(h, i):
        return lambda: h.append(
            spark.createDataFrame([(i, "c")], "id bigint, text string")
        )

    for op in (_delete, _append):
        h = DocumentStore(spark, path)
        first = _jobs(spark, f"fresh-{op.__name__}-1", op(h, 10))
        second = _jobs(spark, f"fresh-{op.__name__}-2", op(h, 11))
        assert first == second, (op.__name__, first, second)
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "a", 10: "c", 11: "c"}


def test_store_duplicate_id_within_batch_deterministic(spark, tmp_path):
    """Within one segment the last-written row wins deterministically
    (total order via __seq), run after run."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "dupstore"))
    batch = spark.createDataFrame(
        [(1, "first"), (1, "second")], "id bigint, text string"
    ).coalesce(1)
    store.append(batch)
    for _ in range(3):
        got = [r["text"] for r in store.read().collect()]
        assert got == ["second"]


def test_dedup_stream_null_text_not_collapsed(spark):
    from comet_spark.streaming.ingest import dedup_stream

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id bigint, text string",
    )
    out = dedup_stream(df, ts_col=None).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert len([i for i in ids if i in (1, 2)]) == 2  # null texts both kept
    assert len([i for i in ids if i in (3, 4)]) == 1  # real dup collapsed


def test_store_compact_preserves_seq_column(spark, tmp_path):
    """Regression (ADVICE r03): compact() must keep __seq in the file
    schema — otherwise schema inference from the compacted file silently
    drops the __seq that NEWER appends carry, and within-batch
    newest-wins degrades to partition-arbitrary."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "cseq"))
    store.append(spark.createDataFrame([(1, "v1")], "id bigint, text string"))
    store.compact()
    # post-compaction appends still surface their __seq in the merged scan
    store.append(
        spark.createDataFrame(
            [(2, "first"), (2, "second")], "id bigint, text string"
        ).coalesce(1)
    )
    assert "__seq" in store._segments().columns
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "v1", 2: "second"}


def test_store_writer_lock(spark, tmp_path):
    """Reference parity (storage_provider.go:36-246): one writer owns the
    store — a second concurrent append/delete/compact fails fast on the
    lock marker instead of corrupting the segment sequence."""
    from comet_spark.storage.store import DocumentStore, StoreLockedError

    store = DocumentStore(spark, str(tmp_path / "locked"))
    store.append(spark.createDataFrame([(1, "a")], "id bigint, text string"))

    # simulate a concurrent writer holding the lock
    assert store._fs.create_new(store.lock_path)
    with pytest.raises(StoreLockedError):
        store.append(spark.createDataFrame([(2, "b")], "id bigint, text string"))
    with pytest.raises(StoreLockedError):
        store.delete(spark.createDataFrame([(1,)], "id bigint"))
    with pytest.raises(StoreLockedError):
        store.compact()

    store.force_unlock()
    store.append(spark.createDataFrame([(2, "b")], "id bigint, text string"))
    assert {r["id"] for r in store.read().collect()} == {1, 2}
    # the lock releases after each successful write
    assert not store._fs.exists(store.lock_path)


def test_store_append_seq_col_deterministic(spark, tmp_path):
    """Caller-provided sequence column pins the intra-batch winner even
    across partition layouts (the monotonically_increasing_id default is
    total but partition-arbitrary for multi-partition batches)."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "verstore"))
    batch = spark.createDataFrame(
        [(1, "stale", 10), (1, "fresh", 20), (2, "only", 5)],
        "id bigint, text string, version bigint",
    ).repartition(4)
    store.append(batch, seq_col="version")
    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "fresh", 2: "only"}


def _neardup_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_neardup_ingest_cross_batch(spark, tmp_path):
    """Incremental LSH dedup: fuzzy re-ingests are dropped against the
    persistent signature store, across batches and across operator
    restarts (a fresh call sees the same store)."""
    from comet_spark.streaming.ingest import neardup_ingest

    store = str(tmp_path / "sigs")
    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray yankee zulu one two three four five six seven "
        "eight nine ten"
    )
    base = words
    kept1 = neardup_ingest(
        _neardup_docs(spark, [(1, base), (2, "completely different words here entirely")]),
        store,
    )
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]

    # batch 2: a near-dup of doc 1 (one word changed; this fixture is
    # verified to share 2 of 4 band signatures with the base — md5 is
    # deterministic, so it stays that way), one exact dup of doc 2, one
    # genuinely new doc
    mutated = base.replace("romeo", "romero")
    kept2 = neardup_ingest(
        _neardup_docs(
            spark,
            [
                (10, mutated),
                (11, "completely different words here entirely"),
                (12, "fresh content nobody has ever ingested before now"),
            ],
        ),
        store,
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [12]


def test_neardup_ingest_within_batch_min_id_wins(spark, tmp_path):
    from comet_spark.streaming.ingest import neardup_ingest

    store = str(tmp_path / "sigs2")
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    kept = neardup_ingest(
        _neardup_docs(spark, [(5, t), (3, t), (9, "unrelated totally other text")]),
        store,
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 9]


def test_neardup_ingest_stream(spark, tmp_path):
    """foreachBatch wrapper: two files -> two micro-batches; the second
    batch's near-dup is dropped against the first batch's signatures."""
    from comet_spark.streaming.ingest import neardup_ingest_stream

    src = str(tmp_path / "nd_in")
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray yankee zulu one two three four five six seven "
        "eight nine ten"
    )
    _neardup_docs(spark, [(1, base)]).coalesce(1).write.mode("append").parquet(src)
    _neardup_docs(
        spark,
        [(2, base.replace("romeo", "romero")), (3, "wholly new words in this row")],
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = neardup_ingest_stream(
        stream,
        str(tmp_path / "nd_sigs"),
        str(tmp_path / "nd_out"),
        checkpoint=str(tmp_path / "nd_ckpt"),
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "nd_out")).collect()}
    assert 1 in kept and 3 in kept
    assert 2 not in kept  # fuzzy re-ingest dropped


def test_neardup_ingest_replayed_batch_not_self_deduped(spark, tmp_path):
    """Replay idempotency: a batch re-run with assume_replay=True
    against a signature store that already holds ITS OWN signatures
    (crash after the sig append, before the caller's output landed) must
    keep the same survivors — a doc is never a near-duplicate of
    itself. WITHOUT the flag the same call keeps the old semantics: a
    same-id redelivery in a later batch dedups against the store."""
    from comet_spark.streaming.ingest import neardup_ingest

    store = str(tmp_path / "sigs_replay")
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "wholly different content in this row entirely here now"),
    ]
    first = sorted(r["doc_id"] for r in neardup_ingest(_neardup_docs(spark, rows), store).collect())
    assert first == [1, 2]
    replay = sorted(
        r["doc_id"]
        for r in neardup_ingest(
            _neardup_docs(spark, rows), store, assume_replay=True
        ).collect()
    )
    assert replay == [1, 2]  # not dropped as dups of themselves
    # an ordinary (non-replay) same-id redelivery still dedups...
    redeliver = neardup_ingest(_neardup_docs(spark, rows), store).collect()
    assert redeliver == []
    # ...and a GENUINE near-dup under a fresh id still drops either way
    kept = neardup_ingest(
        _neardup_docs(spark, [(9, rows[0][1])]), store, assume_replay=True
    ).collect()
    assert kept == []


def _replay_latest_batch(spark, ckpt: str) -> None:
    """Simulate the crash-replay shape: remove the checkpoint's LATEST
    commit marker, so a restart with the SAME checkpoint re-runs that
    micro-batch with its logged file set."""
    import glob
    import os

    commits = sorted(
        (f for f in glob.glob(f"{ckpt}/commits/*") if f.split("/")[-1].isdigit()),
        key=lambda f: int(f.split("/")[-1]),
    )
    assert commits, ckpt
    os.remove(commits[-1])
    crc = f"{ckpt}/commits/.{commits[-1].split('/')[-1]}.crc"
    if os.path.exists(crc):  # local checksum FS twin of the marker
        os.remove(crc)


def test_neardup_and_decontam_streams_replay_without_duplicates(spark, tmp_path):
    """The crash-replay shape (same checkpoint, latest commit marker
    lost): the restarted stream re-runs that micro-batch, and because
    each batch overwrites its own batch=<id> partition — and the first
    batch after restart runs the dedup with assume_replay — the output
    ends byte-identical: no lost docs, no duplicates."""
    from comet_spark.streaming.ingest import (
        decontam_ingest_stream,
        neardup_ingest_stream,
        pin_eval_shingles,
    )

    src = str(tmp_path / "rp_in")
    _neardup_docs(
        spark, [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    ).coalesce(1).write.mode("append").parquet(src)
    _neardup_docs(
        spark, [(2, "totally unrelated words in the second file here")]
    ).coalesce(1).write.mode("append").parquet(src)

    def nd_stream():
        return neardup_ingest_stream(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            str(tmp_path / "rp_sigs"), nd_out,
            checkpoint=str(tmp_path / "nd_ck"),
        )

    nd_out = str(tmp_path / "rp_nd_out")
    nd_stream().awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(nd_out).collect())
    assert got == [1, 2]
    # crash-replay the latest batch (its sigs are already in the store)
    _replay_latest_batch(spark, str(tmp_path / "nd_ck"))
    nd_stream().awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(nd_out).collect())
    assert got == [1, 2]  # no loss on replay, no duplicates
    # provenance column from the batch=<id> layout
    assert "batch" in spark.read.parquet(nd_out).columns

    ev_path = str(tmp_path / "rp_ev")
    pin_eval_shingles(
        _neardup_docs(spark, [(100, "alpha beta gamma")]), ev_path, n=3
    )
    dc_out = str(tmp_path / "rp_dc_out")

    def dc_stream():
        return decontam_ingest_stream(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            ev_path, dc_out, n=3, checkpoint=str(tmp_path / "dc_ck"),
        )

    dc_stream().awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(dc_out).collect()) == [2]
    _replay_latest_batch(spark, str(tmp_path / "dc_ck"))
    dc_stream().awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(dc_out).collect())
    assert got == [2]  # doc 1 contaminated; no dup of doc 2 on replay

    # a legacy flat-layout out_path is refused up front, not mixed
    import pytest
    from pyspark.errors import StreamingQueryException

    legacy = str(tmp_path / "legacy_out")
    _neardup_docs(spark, [(7, "x y z")]).coalesce(1).write.parquet(legacy)
    q = neardup_ingest_stream(
        spark.readStream.schema("doc_id bigint, text string").parquet(src),
        str(tmp_path / "rp_sigs2"), legacy,
        checkpoint=str(tmp_path / "legacy_ck"),
    )
    with pytest.raises(StreamingQueryException, match="flat parquet"):
        q.awaitTermination(120)


def test_compact_sig_store_bounds_files_and_dedups(spark, tmp_path):
    """The signature store's file count must not grow without bound on a
    long stream: compact_sig_store collapses the per-batch appends (and
    any replay-duplicated rows) into a few files, and collision behavior
    is unchanged afterwards."""
    import glob

    from comet_spark.streaming.ingest import compact_sig_store, neardup_ingest

    store = str(tmp_path / "sigs_c")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    neardup_ingest(_neardup_docs(spark, [(1, base)]), store)
    # simulate a long stream's accumulation: many tiny signature files
    # from later batches, plus one replay's duplicate rows
    rows = spark.read.parquet(store)
    sch = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    synth = spark.range(1000, 1200).selectExpr(
        f"cast(pmod(id, 8) as {sch['band']}) as band",
        f"cast(concat('zz', id) as {sch['sig']}) as sig",
        f"cast(id as {sch['id']}) as id",
    ).select(*rows.columns)
    synth.repartition(80).write.mode("append").parquet(store)
    rows.write.mode("append").parquet(store)  # replay-style duplicates
    assert len(glob.glob(f"{store}/part-*")) > 64
    n_distinct = spark.read.parquet(store).distinct().count()

    assert compact_sig_store(spark, store, min_files=64)
    files = glob.glob(f"{store}/part-*")
    assert len(files) <= 2, files
    got = [tuple(r) for r in spark.read.parquet(store).collect()]
    assert len(got) == len(set(got)) == n_distinct  # dups collapsed
    # collision behavior unchanged: the same content still drops
    assert neardup_ingest(_neardup_docs(spark, [(9, base)]), store).count() == 0
    # and below the threshold it is a no-op
    assert not compact_sig_store(spark, store, min_files=64)


def test_compact_sig_store_heals_stranded_swap(spark, tmp_path):
    """Crash between compact_sig_store's two renames strands the store:
    live dir absent, all dedup history in ``.old``. Both re-entry points
    (the compactor itself and the next neardup_ingest batch) must
    restore it — without the heal the collision probe sees no store and
    silently re-admits historical near-duplicates (ADVICE r07)."""
    from comet_spark.storage.store import _FS
    from comet_spark.streaming.ingest import compact_sig_store, neardup_ingest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    # (a) neardup_ingest heals at entry
    store = str(tmp_path / "sigs_h1")
    neardup_ingest(_neardup_docs(spark, [(1, base)]), store)
    fs = _FS(spark, store)
    assert fs.rename(store, store + ".old")  # the crash window state
    assert neardup_ingest(_neardup_docs(spark, [(9, base)]), store).count() == 0
    assert fs.exists(store) and not fs.exists(store + ".old")

    # (b) compact_sig_store heals at entry (then proceeds normally)
    store2 = str(tmp_path / "sigs_h2")
    neardup_ingest(_neardup_docs(spark, [(1, base)]), store2)
    fs2 = _FS(spark, store2)
    assert fs2.rename(store2, store2 + ".old")
    assert not compact_sig_store(spark, store2, min_files=64)  # healed, tiny
    assert fs2.exists(store2) and not fs2.exists(store2 + ".old")
    assert neardup_ingest(_neardup_docs(spark, [(9, base)]), store2).count() == 0


def test_compact_sig_store_writer_lock(spark, tmp_path):
    """compact_sig_store enforces the single-writer rule via the shared
    lock marker (sibling ``._lock``): a second writer fails fast with
    StoreLockedError instead of silently renaming a concurrent rewrite
    aside (ADVICE r07). The marker is released on exit."""
    import pytest

    from comet_spark.storage.store import _FS, StoreLockedError
    from comet_spark.streaming.ingest import compact_sig_store, neardup_ingest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    store = str(tmp_path / "sigs_lk")
    neardup_ingest(_neardup_docs(spark, [(1, base)]), store)
    fs = _FS(spark, store)
    assert fs.create_new(store + "._lock")  # a live (or crashed) writer
    with pytest.raises(StoreLockedError):
        compact_sig_store(spark, store, min_files=0)
    fs.delete(store + "._lock")
    # lock-free call acquires and releases the marker
    assert not compact_sig_store(spark, store, min_files=64)
    assert not fs.exists(store + "._lock")


def test_compact_sig_store_crash_sweep(spark, tmp_path):
    """Every rename crash point of compact_sig_store's swap heals: inject
    a crash after the K-th rename, re-run the compactor (it heals at
    entry), require no swap leftovers and the same signature rows."""
    import os
    import shutil

    from comet_spark.streaming.ingest import compact_sig_store, neardup_ingest

    seed = str(tmp_path / "sigs_seed")
    for i, text in enumerate(["alpha beta gamma delta epsilon zeta eta",
                              "one two three four five six seven eight"]):
        neardup_ingest(_neardup_docs(spark, [(i, text)]), seed)
    want = {tuple(r) for r in spark.read.parquet(seed).collect()}

    for k, crash in rename_crash_points(limit=8):
        path = str(tmp_path / f"sigs_sweep{k}")
        shutil.copytree(seed, path)
        with crash:
            compact_sig_store(spark, path, min_files=0)

        assert compact_sig_store(spark, path, min_files=0), k  # heal + rerun
        for suf in (".old", ".compacting", ".tiermove", "._lock"):
            assert not os.path.exists(path + suf), (k, suf)
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == want, k


@pytest.mark.parametrize("entry", ["compact_sig_store", "neardup_ingest"])
def test_sig_store_heal_raises_when_restore_fails(spark, tmp_path, monkeypatch, entry):
    """A heal whose restore rename fails must raise, not carry on with
    the signature store missing (the collision probe would then see no
    history and re-admit every near-duplicate)."""
    import comet_spark.storage.store as store_mod
    from comet_spark.streaming.ingest import compact_sig_store, neardup_ingest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    store = str(tmp_path / "sigs_rf")
    neardup_ingest(_neardup_docs(spark, [(1, base)]), store)
    fs = store_mod._FS(spark, store)
    assert fs.rename(store, store + ".old")  # crashed mid-swap
    monkeypatch.setattr(store_mod._FS, "rename", lambda self, src, dst: False)
    with pytest.raises(OSError):
        if entry == "compact_sig_store":
            compact_sig_store(spark, store, min_files=0)
        else:
            neardup_ingest(_neardup_docs(spark, [(9, base)]), store)
    assert fs.exists(store + ".old") and not fs.exists(store)


def test_bm25_ingest_state_compaction_crash_sweep(spark, tmp_path):
    """Every rename crash point of the state log's compaction (it runs
    after a batch's 'done' marker) heals: the crashed micro-batch
    replays on restart, heals the log before reading it, and finds its
    batch done — no swap leftovers, the log still records the batch,
    and store and index hold every document exactly once."""
    import os
    import shutil

    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    src = str(tmp_path / "sc_src")
    rows0 = [(i, f"spark state doc {i}") for i in range(1, 11)]
    rows1 = [(i, f"spark log doc {i}") for i in range(100, 106)]
    schema = "id bigint, text string"

    def run(k: str) -> None:
        q = bm25_ingest_stream(
            spark.readStream.schema(schema).parquet(src),
            DocumentStore(spark, str(tmp_path / f"sc_store{k}")),
            str(tmp_path / f"sc_ix{k}"),
            checkpoint=str(tmp_path / f"sc_ckpt{k}"),
            buckets=0, state_compact_files=2,
        )
        q.awaitTermination(120)

    _batch(spark, rows0).coalesce(1).write.mode("append").parquet(src)
    run("_seed")  # batch 0
    # batch 1's 'begin' + 'done' rows take the log past the bound, so it
    # compacts after 'done'
    _batch(spark, rows1).coalesce(1).write.mode("append").parquet(src)
    want = [
        tuple(r) for r in BM25(_batch(spark, rows0 + rows1))
        .score("spark doc", k=0).collect()
    ]

    for k, crash in rename_crash_points(limit=8):
        for d in ("sc_store", "sc_ix", "sc_ckpt"):
            shutil.copytree(tmp_path / f"{d}_seed", tmp_path / f"{d}{k}")
        with crash:
            run(str(k))

        run(str(k))  # restart: the crashed batch replays and heals
        state = str(tmp_path / f"sc_ix{k}" / "_ingest_state")
        for suf in (".old", ".compacting", ".tiermove"):
            assert not os.path.exists(state + suf), (k, suf)
        done = spark.read.parquet(state).filter("phase = 'done'")
        assert done.agg({"batch_id": "max"}).first()[0] == 1, k
        store = DocumentStore(spark, str(tmp_path / f"sc_store{k}"))
        assert store.read().count() == len(rows0) + len(rows1), k
        live = BM25.read(spark, str(tmp_path / f"sc_ix{k}"))
        assert live.doc_len.count() == len(rows0) + len(rows1), k
        assert [tuple(r) for r in live.score("spark doc", k=0).collect()] == want, k


def test_bm25_ingest_state_log_counts_data_files_only(spark, tmp_path):
    """``state_compact_files`` bounds the log's DATA files: with a bound
    of 2, the log batch 0 leaves (its 'begin' and 'done' rows, one part
    file each) is not rewritten — the _SUCCESS marker does not count."""
    import glob

    from comet_spark.streaming.ingest import bm25_ingest_stream

    src = str(tmp_path / "cnt_src")
    _batch(spark, [(1, "spark log doc"), (2, "spark state doc")]).coalesce(
        1
    ).write.parquet(src)
    ix = str(tmp_path / "cnt_ix")
    bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src),
        DocumentStore(spark, str(tmp_path / "cnt_store")), ix,
        checkpoint=str(tmp_path / "cnt_ckpt"), buckets=0, state_compact_files=2,
    ).awaitTermination(120)
    assert len(glob.glob(f"{ix}/_ingest_state/part-*")) == 2


def test_store_compact_zorder(spark, tmp_path):
    """OPTIMIZE ZORDER on compaction: results identical, and within each
    written file the Z-key range is bounded (files are clustered — the
    min/max-stat locality that lets predicates on any listed dimension
    skip files)."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "zstore"))
    rows = [(i, f"doc {i}", i % 17, (i * 7) % 13) for i in range(500)]
    store.append(
        spark.createDataFrame(rows, "id bigint, text string, x bigint, y bigint")
    )
    before = sorted(tuple(r) for r in store.read().collect())
    store.compact(zorder_by=["x", "y"], zorder_bits=5, zorder_files=4)
    after = sorted(tuple(r) for r in store.read().collect())
    assert after == before

    from comet_spark.operators.layout import zorder_key
    import pyspark.sql.functions as F

    df = store._segments().withColumn(
        "zk", zorder_key([F.col("x"), F.col("y")], bits=5)
    ).withColumn("f", F.input_file_name())
    spans = (
        df.groupBy("f").agg((F.max("zk") - F.min("zk")).alias("span"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .collect()
    )
    if len(spans) > 1:  # clustering only observable across multiple files
        total_span = df.agg(F.max("zk") - F.min("zk")).first()[0]
        assert all(s["span"] < total_span for s in spans)


def test_neardup_ingest_unbandable_docs_pass_through(spark, tmp_path):
    """Docs with no band signatures (empty/NULL text — nothing to collide
    on) must pass through, not vanish as phantom duplicates."""
    from comet_spark.streaming.ingest import neardup_ingest

    store = str(tmp_path / "sigs_u")
    kept = neardup_ingest(
        _neardup_docs(
            spark,
            [(1, "regular words in a normal document here"), (2, ""), (3, None)],
        ),
        store,
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]


def test_neardup_ingest_greedy_chain(spark, tmp_path):
    """Greedy-by-id semantics on a collision CHAIN A~B~C (A≁C): B drops
    against kept A, and C must be KEPT — its only collision is with a
    doc that was itself dropped, so C's content needs a representative
    in the signature store (one min-per-bucket round would wrongly drop
    C and then admit an exact re-crawl of it next batch)."""
    from comet_spark.streaming.ingest import neardup_ingest

    # fixture searched offline: with bands=8 these share buckets A-B and
    # B-C but not A-C (md5 is deterministic, so this holds forever)
    A = "delta oscar hotel juliett november lima echo foxtrot mike india bravo alpha papa golf charlie kilo"
    B = ("delta oscar hotel juliett november lima echo foxtrot mike india bravo alpha papa "
         "olive teal yellow maroon blue indigo crimson navy red gold amber bronze green")
    C = "olive teal yellow maroon blue indigo crimson navy red gold amber bronze green orange violet silver"
    store = str(tmp_path / "sigs_chain")
    kept = neardup_ingest(
        _neardup_docs(spark, [(1, A), (2, B), (3, C)]), store, bands=8
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    # and an exact re-crawl of C's content now collides with stored sigs
    kept2 = neardup_ingest(_neardup_docs(spark, [(9, C)]), store, bands=8)
    assert kept2.count() == 0


def test_store_append_delete_segment_numbering_under_lock(spark, tmp_path):
    """The segment number / delete watermark is computed INSIDE the
    writer lock (TOCTOU guard): sequential appends never reuse a
    segment number."""
    from comet_spark.storage.store import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "seqnum"))
    segs = [
        store.append(spark.createDataFrame([(i, "t")], "id bigint, text string"))
        for i in range(4)
    ]
    assert segs == [0, 1, 2, 3]
    assert store._segment_ids() == [0, 1, 2, 3]


def test_compact_recluster_refreshes_ivf_layout(spark, tmp_path):
    """ANN layout maintenance under ingest (reference re-Train(),
    ivf_index.go:206-235): a store that grew to 3x the trained corpus is
    compacted with a refreshed IVFIndex — the rewrite re-assigns
    cluster_id for every surviving row (payload columns preserved), and
    nprobe recall over the merged view matches a fresh train on the
    full corpus within tolerance."""
    import numpy as np

    from comet_spark.operators.ann import IVFIndex
    from comet_spark.operators.knn import knn
    from comet_spark.storage.store import DocumentStore
    from tests.conftest import SF_DIR_SMALL

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vector"),
        "label",
    )
    initial = emb.filter(F.col("id") % 3 == 0)
    drift = emb.filter(F.col("id") % 3 != 0)  # 2x the trained corpus

    ivf = IVFIndex.train(initial, 8)
    store = DocumentStore(spark, str(tmp_path / "ivfstore"))
    store.append(ivf.assign_inplace(initial))  # write-time assignment
    store.append(drift)  # appended AFTER training: no/NULL cluster_id

    refreshed = ivf.refresh(store.read())
    store.compact(recluster=refreshed)

    merged = store.read().cache()
    assert "cluster_id" in merged.columns
    assert "label" in merged.columns  # payload survived the re-assign
    assert merged.count() == emb.count()
    assert merged.filter(F.col("cluster_id").isNull()).count() == 0

    # recall vs a from-scratch train+assign on the same full corpus
    fresh = IVFIndex.train(emb, 8)
    fresh_assigned = fresh.assign(emb)
    qvecs = [
        [float(x) for x in r["vector"]]
        for r in emb.filter(F.col("id") < 5).collect()
    ]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvecs)], "qid bigint, qvec array<double>"
    )
    gt = {}
    for r in knn(emb, qdf, k=10, metric="l2").collect():
        gt.setdefault(r["qid"], set()).add(r["id"])

    def recall(index, assigned):
        hits = 0
        for qid, v in enumerate(qvecs):
            got = {r["id"] for r in index.search(assigned, v, k=10, nprobe=2).collect()}
            hits += len(got & gt[qid])
        return hits / (len(qvecs) * 10)

    r_refreshed = recall(refreshed, merged)
    r_fresh = recall(fresh, fresh_assigned)
    assert r_refreshed >= r_fresh - 0.1, (r_refreshed, r_fresh)
    merged.unpersist()


def test_decontam_ingest_drop_and_flag(spark, tmp_path):
    """Ingest-time decontamination: a doc sharing any word n-gram with
    the pinned eval set is dropped (or flagged), clean docs pass, and
    the decision agrees with the batch audit on the same corpus."""
    from comet_spark.operators.contamination import decontaminate
    from comet_spark.streaming.ingest import decontam_ingest, pin_eval_shingles

    ev_path = str(tmp_path / "eval_shingles")
    eval_docs = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    pin_eval_shingles(eval_docs, ev_path, n=3)

    batch = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox in the field"),  # shares a 3-gram
            (2, "completely unrelated training sentence here"),
            (3, None),  # no shingles -> clean by construction
        ],
        "doc_id bigint, text string",
    )
    kept = decontam_ingest(batch, ev_path, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]

    flagged = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontam_ingest(batch, ev_path, n=3, mode="flag").collect()
    }
    assert flagged == {1: True, 2: False, 3: False}

    # the ingest decision is the batch audit's "any shingle hit" rule
    audit = {
        r["id"]: r["n_contaminated"] > 0
        for r in decontaminate(batch, eval_docs, n=3).collect()
    }
    for doc_id, contaminated in audit.items():
        assert flagged[doc_id] == contaminated

    import pytest

    with pytest.raises(ValueError, match="drop"):
        decontam_ingest(batch, ev_path, mode="quarantine")


def test_decontam_ingest_stream_matches_batch(spark, tmp_path):
    """Batch/stream parity: the same corpus streamed in micro-batches
    through decontam_ingest_stream keeps exactly the docs the one-shot
    batch call keeps (the eval set is static, so batch boundaries cannot
    change any decision)."""
    from comet_spark.streaming.ingest import (
        decontam_ingest,
        decontam_ingest_stream,
        pin_eval_shingles,
    )

    ev_path = str(tmp_path / "ev_sh")
    eval_docs = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta")], "doc_id bigint, text string"
    )
    pin_eval_shingles(eval_docs, ev_path, n=3)

    rows = [
        (1, "noise alpha beta gamma more noise"),   # contaminated
        (2, "clean text one with words"),
        (3, "delta epsilon zeta trailing tokens"),  # contaminated
        (4, "another clean doc entirely"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")

    src_dir = str(tmp_path / "in")
    corpus.filter(F.col("doc_id") <= 2).coalesce(1).write.mode("append").parquet(src_dir)
    corpus.filter(F.col("doc_id") > 2).coalesce(1).write.mode("append").parquet(src_dir)

    out_path = str(tmp_path / "out")
    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir)
    q = decontam_ingest_stream(
        stream, ev_path, out_path, n=3, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    streamed = sorted(r["doc_id"] for r in spark.read.parquet(out_path).collect())
    batched = sorted(
        r["doc_id"] for r in decontam_ingest(corpus, ev_path, n=3).collect()
    )
    assert streamed == batched == [2, 4]

    # trigger_available_now=False (ADVICE r05): a LONG-RUNNING query that
    # keeps decontaminating — files written AFTER start are processed
    # without a restart (availableNow would have drained and stopped)
    import time

    out2 = str(tmp_path / "out2")
    q2 = decontam_ingest_stream(
        spark.readStream.schema("doc_id bigint, text string").parquet(src_dir),
        ev_path, out2, n=3, checkpoint=str(tmp_path / "ckpt2"),
        trigger_available_now=False,
    )
    try:
        corpus.withColumn("doc_id", F.col("doc_id") + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        deadline = time.time() + 120
        seen: set[int] = set()
        from pyspark.errors import AnalysisException

        while time.time() < deadline and not {2, 4, 12, 14} <= seen:
            q2.processAllAvailable()
            try:
                seen = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
            except AnalysisException:
                pass  # out2 not created yet; real read errors surface
        assert q2.isActive  # still running — continuous, not drain-and-stop
        assert {2, 4, 12, 14} <= seen and not seen & {1, 3, 11, 13}
    finally:
        q2.stop()


def test_image_resize_nearest_neighbor_semantics(spark):
    """Hand-checkable resample: a 4x2 image with distinct pixel values
    downsized to 2x1 must pick the center-mapped pixels (floor((i+0.5)*
    src/dst)); upscale repeats source pixels; stub mode is rejected."""
    import numpy as np

    from comet_spark.multimodal import (
        decode_image,
        encode_ppm,
        image_resize,
    )

    # pixels: value = 10*x + y (distinct per position), shape (h=2, w=4)
    img = np.zeros((2, 4, 3), dtype=np.uint8)
    for y in range(2):
        for x in range(4):
            img[y, x] = 10 * x + y
    media = spark.createDataFrame(
        [(1, encode_ppm(img), "image"), (2, b"junk", "audio")],
        "media_id bigint, payload binary, media_type string",
    )

    down = image_resize(media, out_w=2, out_h=1).collect()
    assert len(down) == 1  # audio row pruned before Python
    out = decode_image(bytes(down[0]["payload"]))
    assert out.shape == (1, 2, 3)
    # x indices: floor((0.5)*4/2)=1, floor((1.5)*4/2)=3; y: floor(0.5*2/1)=1
    assert out[0, 0, 0] == 10 * 1 + 1 and out[0, 1, 0] == 10 * 3 + 1

    up = decode_image(bytes(image_resize(media, out_w=8, out_h=2).collect()[0]["payload"]))
    assert up.shape == (2, 8, 3)
    assert (up[:, 0] == img[:, 0]).all() and (up[:, 7] == img[:, 3]).all()

    with pytest.raises(NotImplementedError, match="real"):
        image_resize(media, out_w=2, out_h=2, decode_mode="stub")
    with pytest.raises(ValueError, match="positive"):
        image_resize(media, out_w=0, out_h=2)


def test_store_write_paths_heal_crashed_compact_window(spark, tmp_path):
    """compact()'s two-rename swap has a window where the live data dir
    is momentarily absent (moved aside to data.old, the rewrite waiting
    in data.compacting). A write path running on that crash state must
    RESTORE the original before touching the segment sequence —
    without the heal, append() would start a fresh segment=0 directory
    and silently orphan every pre-crash row (and a later compact's
    cleanup would delete the .old copy for good)."""
    store = DocumentStore(spark, str(tmp_path / "crashed"))
    store.append(_batch(spark, [(1, "a"), (2, "b")]))
    store.append(_batch(spark, [(3, "c")]))

    # simulate the between-renames crash: data moved aside, that run's
    # (complete) rewrite still in the side dir, live dir missing
    assert store._fs.rename(store.data_path, store.data_path + ".old")
    _batch(spark, [(9, "stale rewrite")]).withColumn(
        "segment", F.lit(0)
    ).write.partitionBy("segment").parquet(store.data_path + ".compacting")
    with pytest.raises(FileNotFoundError):
        store.read()  # readers fail LOUDLY, never silently empty

    # append on the crashed store heals first, then appends
    store.append(_batch(spark, [(4, "d")]))
    got = {r["id"] for r in store.read().collect()}
    assert got == {1, 2, 3, 4}
    # the stale rewrite was NOT installed; next compact cleans it up
    store.compact()
    assert not store._fs.exists(store.data_path + ".old")
    assert not store._fs.exists(store.data_path + ".compacting")
    assert {r["id"] for r in store.read().collect()} == {1, 2, 3, 4}

    # compact() re-run on the same crash state also heals
    assert store._fs.rename(store.data_path, store.data_path + ".old")
    store.compact()
    assert {r["id"] for r in store.read().collect()} == {1, 2, 3, 4}

    # delete() heals too (its watermark derives from the segment listing)
    assert store._fs.rename(store.data_path, store.data_path + ".old")
    store.delete(spark.createDataFrame([(1,)], "id bigint"))
    assert {r["id"] for r in store.read().collect()} == {2, 3, 4}


def test_store_tiered_compact_merges_small_tail_only(spark, tmp_path):
    """store.compact(tiered=True) — LSM size tiers: only the contiguous
    run of small segments NEWER than the largest segment merges (newest
    wins within the tail, pending deletes applied through the read
    path's own code); the big base segment moves across by rename, its
    files untouched; delete files are RETAINED (they still gate the
    base)."""
    import glob
    import os

    store = DocumentStore(spark, str(tmp_path / "tstore"))
    base = spark.createDataFrame(
        [(i, f"base {i} row with padding text {i % 97}") for i in range(1, 3001)],
        "id bigint, text string",
    )
    store.append(base)  # segment 0, the large (top-tier) base

    def _base_files():
        return {
            os.path.basename(f): os.path.getsize(f)
            for f in glob.glob(f"{store.data_path}/segment=0/part-*")
        }

    base_files = _base_files()
    store.append(_batch(spark, [(1, "v2"), (200, "new")]))      # seg 1
    store.append(_batch(spark, [(200, "new v2"), (201, "n2")]))  # seg 2
    store.delete(spark.createDataFrame([(2,), (201,)], "id bigint"))  # upto 3
    store.append(_batch(spark, [(201, "resurrected"), (202, "n3")]))  # seg 3
    want = {(r["id"], r["text"]) for r in store.read().collect()}
    assert (1, "v2") in want and (200, "new v2") in want
    assert (201, "resurrected") in want  # re-append after delete wins
    assert not any(i == 2 for i, _ in want)  # delete hides base row

    store.compact(tiered=True)

    # merged: segments 1-3 collapsed into 3; base untouched byte-for-byte
    assert store._segment_ids() == [0, 3]
    assert _base_files() == base_files
    assert {(r["id"], r["text"]) for r in store.read().collect()} == want
    # delete files retained (they still gate the base's id=2)...
    assert any(
        f.endswith(".parquet") or f.startswith("part-")
        for f in store._fs.listdir(store.deletes_path)
    )
    # ...and the merged segment's rows escaped them correctly: 201's
    # surviving version is the re-append, 2 stays hidden
    assert not any(i == 2 for i, _ in {
        (r["id"], r["text"]) for r in store.read().collect()
    })

    # appends continue; a later FULL compact applies + drops the deletes
    store.append(_batch(spark, [(9300, "after")]))
    want2 = want | {(9300, "after")}
    assert {(r["id"], r["text"]) for r in store.read().collect()} == want2
    store.compact()
    assert {(r["id"], r["text"]) for r in store.read().collect()} == want2
    assert not any(
        f.endswith(".parquet") or f.startswith("part-")
        for f in store._fs.listdir(store.deletes_path)
    )

    # policy: with a single small segment after the base, tiered no-ops
    store.append(_batch(spark, [(9400, "solo")]))
    segs_before = store._segment_ids()
    store.compact(tiered=True)
    assert store._segment_ids() == segs_before


def test_store_tiered_compact_crash_sweep(spark, tmp_path):
    """Every rename crash point in the store's tiered swap heals: inject
    a crash after the K-th rename, then require compact(tiered=True)
    (which heals at entry) to converge to the correct merged view."""

    for k, crash in rename_crash_points(limit=20):
        store = DocumentStore(spark, str(tmp_path / f"tsweep{k}"))
        store.append(
            spark.createDataFrame(
                [(i, f"base {i} padded row text {i % 89}") for i in range(1, 2001)],
                "id bigint, text string",
            )
        )
        store.append(_batch(spark, [(1, "v2"), (9100, "new")]))
        store.append(_batch(spark, [(9101, "n2")]))
        want = {(r["id"], r["text"]) for r in store.read().collect()}

        with crash:
            store.compact(tiered=True)

        store.compact(tiered=True)  # heal + complete
        assert store._segment_ids() == [0, 2], k
        for suf in (".old", ".compacting", ".tiermove"):
            assert not store._fs.exists(store.data_path + suf), (k, suf)
        assert {(r["id"], r["text"]) for r in store.read().collect()} == want, k


def _hex_rows(seed: int, ids, nchars: int):
    """Deterministic incompressible payload rows (snappy can't shrink
    random hex, so parquet sizes track nchars — the ladder tests steer
    file sizes into specific classes with these)."""
    import random

    rng = random.Random(seed)
    return [(i, "".join(rng.choice("0123456789abcdef") for _ in range(nchars)))
            for i in ids]


def _ladder_store(spark, monkeypatch, base_path):
    """A store in the above-cap regime (constants patched tiny): terminal
    base seg0, class-0 run seg1-4, class-1 separator seg5, class-0 run
    seg6-9 rebuilt as part of the suffix, small tail seg10-11 — with a
    cross-run overwrite and a pending delete."""
    import comet_spark.storage.store as store_mod

    monkeypatch.setattr(store_mod, "_TIER_CAP", 4096)
    monkeypatch.setattr(store_mod, "_TIER_LADDER_MAX", 1 << 18)
    store = DocumentStore(spark, base_path)

    def add(seed, ids, nchars):
        store.append(
            spark.createDataFrame(
                _hex_rows(seed, ids, nchars), "id bigint, text string"
            ).coalesce(1)
        )

    add(0, range(10_000, 10_120), 3000)             # seg0 ~360KB terminal
    for k in range(4):                               # seg1-4: class 0
        add(k + 1, range(1000 + 40 * k, 1000 + 40 * (k + 1)), 220)
    add(50, range(5000, 5060), 420)                  # seg5: class 1 separator
    for k in range(4):                               # seg6-9: class 0
        add(k + 6, range(2000 + 40 * k, 2000 + 40 * (k + 1)), 220)
    store.append(_batch(spark, [(1000, "overwritten-new")]))   # seg10 small
    store.append(_batch(spark, [(7777, "tail-new")]))          # seg11 small
    store.delete(spark.createDataFrame([(1001,)], "id bigint"))
    return store


def test_store_tiered_ladder_above_cap(spark, monkeypatch, tmp_path):
    """Within-tier merging (VERDICT r07 #3): above the consolidation cap,
    contiguous same-size-class runs merge into their newest segment id —
    multiple merged outputs in ONE pass — while terminals, separators
    and ordering (newest-wins, pending deletes) are preserved. File
    counts stay bounded with NO full compact."""
    import comet_spark.storage.store as store_mod

    store = _ladder_store(spark, monkeypatch, str(tmp_path / "lstore"))
    sizes = {
        s: store._fs.dir_size(f"{store.data_path}/segment={s}")
        for s in store._segment_ids()
    }
    # the scenario really is in the intended classes (guards the test
    # against parquet size drift making the assertions vacuous)
    assert sizes[0] >= (1 << 18)
    for s in (1, 2, 3, 4, 6, 7, 8, 9):
        assert store_mod._size_class(sizes[s]) == 0, (s, sizes[s])
    assert store_mod._size_class(sizes[5]) == 1, sizes[5]
    assert sizes[10] < 4096 and sizes[11] < 4096
    want = {(r["id"], r["text"]) for r in store.read().collect()}
    assert (1000, "overwritten-new") in want and (1001,) not in {
        (i,) for i, _ in want
    }

    store.compact(tiered=True)
    # run(1-4) -> 4, kept separator 5, suffix(6..11) -> 11, terminal 0
    assert store._segment_ids() == [0, 4, 5, 11]
    assert {(r["id"], r["text"]) for r in store.read().collect()} == want
    # deletes files are RETAINED (tiered contract) and still applied
    assert any(
        f.startswith("part-") or f.endswith(".parquet")
        for f in store._fs.listdir(store.deletes_path)
    )
    # the merged run PROMOTED: one output at least a class above its inputs
    merged_sz = store._fs.dir_size(f"{store.data_path}/segment=4")
    assert store_mod._size_class(merged_sz) >= 1, merged_sz
    # idempotent: nothing left to merge at this shape
    segs_before = store._segment_ids()
    store.compact(tiered=True)
    assert store._segment_ids() == segs_before

    # bounded under continued ingest with NO full compact: keep appending
    # class-0-sized segments + periodic tiered compacts; segment count
    # never exceeds a small constant ladder bound
    max_segs = 0
    for k in range(12):
        store.append(
            spark.createDataFrame(
                _hex_rows(100 + k, range(50_000 + 40 * k, 50_000 + 40 * (k + 1)), 220),
                "id bigint, text string",
            ).coalesce(1)
        )
        store.compact(tiered=True)
        max_segs = max(max_segs, len(store._segment_ids()))
    # terminals(1) + per-class stragglers (<4 each over 3 rungs) + tail
    assert max_segs <= 10, max_segs
    assert {(r["id"], r["text"]) for r in store.read().collect()} >= want


def test_store_tiered_ladder_crash_sweep(spark, monkeypatch, tmp_path):
    """Every rename crash point of the MULTI-OUTPUT tiered swap (two
    merged segments + two kept moves in one pass) heals: inject a crash
    after the K-th rename, re-run compact(tiered=True), require the
    exact merged view and no protocol leftovers."""
    import shutil


    # the 12-segment pre-compact store is deterministic — build it ONCE
    # and copy the directory per crash point (the per-k rebuild was the
    # single slowest test in the suite, r10); the tier-constant patches
    # from _ladder_store stay active for every copy's compacts
    seed_path = str(tmp_path / "lsw_seed")
    seed = _ladder_store(spark, monkeypatch, seed_path)
    want = {(r["id"], r["text"]) for r in seed.read().collect()}

    for k, crash in rename_crash_points(limit=40):
        path = str(tmp_path / f"lsw{k}")
        shutil.copytree(seed_path, path)
        store = DocumentStore(spark, path)

        with crash:
            store.compact(tiered=True)

        store.compact(tiered=True)  # heal + complete
        assert store._segment_ids() == [0, 4, 5, 11], k
        for suf in (".old", ".compacting", ".tiermove"):
            assert not store._fs.exists(store.data_path + suf), (k, suf)
        assert {(r["id"], r["text"]) for r in store.read().collect()} == want, k


def test_store_tiered_compact_reclusters_tail_only(spark, tmp_path):
    """recluster with tiered=True assigns layout columns to the merged
    tail rows only — the base segment keeps its ingest-time layout
    (pass the as-trained index so tail and base agree)."""

    class FakeIndex:
        def assign_inplace(self, df, vec_col="vector"):
            return df.withColumn("cluster_id", (F.col("id") % 2).cast("int"))

    store = DocumentStore(spark, str(tmp_path / "rstore"))
    store.append(
        spark.createDataFrame(
            [(i, [float(i)] * 8, 9) for i in range(1, 2001)],
            "id bigint, vector array<float>, cluster_id int",
        )
    )
    store.append(
        spark.createDataFrame(
            [(9100, [1.0] * 8), (9101, [2.0] * 8)],
            "id bigint, vector array<float>",
        )
    )
    store.append(
        spark.createDataFrame([(9102, [3.0] * 8)], "id bigint, vector array<float>")
    )
    store.compact(tiered=True, recluster=FakeIndex())
    got = {r["id"]: r["cluster_id"] for r in store.read().collect()}
    assert got[9100] == 0 and got[9101] == 1 and got[9102] == 0  # tail assigned
    assert got[1] == 9  # base keeps its ingest-time assignment


def test_bm25_ingest_stream_periodic_tiered_compact(spark, store, tmp_path):
    """tiered_compact_every=N: the stream — the single writer, hence the
    only safe compactor — size-tiers BOTH the index and the store after
    every Nth micro-batch, bounding file growth under continuous ingest
    without stopping. Scores must equal a fresh full-corpus build and
    the index must come out in the single-stats-row shape."""
    import glob

    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    src_dir = str(tmp_path / "ptc_src")
    rows = [(i, f"spark stream doc term{i % 5}") for i in range(1, 41)]
    for lo in (0, 10, 20, 30):  # four files -> four micro-batches
        _batch(spark, rows[lo:lo + 10]).coalesce(1).write.mode("append").parquet(
            src_dir
        )
    ix_path = str(tmp_path / "ptc_ix")
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string")
        .option("maxFilesPerTrigger", 1).parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ptc_ckpt"), buckets=4,
        tiered_compact_every=2,
    )
    q.awaitTermination(180)

    # the index equals a fresh full-corpus build...
    fresh = BM25(_batch(spark, rows), cache=False)
    want = [tuple(r) for r in fresh.score("spark term3", k=0).collect()]
    live = BM25.read(spark, ix_path)
    assert [tuple(r) for r in live.score("spark term3", k=0).collect()] == want
    # ...in the consolidated shape: one stats row, bounded bucket files
    assert spark.read.parquet(f"{ix_path}/stats").count() == 1
    import re as _re

    per_bucket: dict[str, int] = {}
    for f in glob.glob(f"{ix_path}/postings/part-*"):
        b = _re.search(r"_(\d{5})\.c\d+", f).group(1)
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) <= 2
    # the store consolidated too (4 appended segments -> tail merged)
    assert store.segment_count() < 4
    assert {r["id"] for r in store.read().collect()} == {i for i, _ in rows}


def test_bm25_ingest_stream_heals_crashed_compact_stats_swap(spark, store, tmp_path):
    """Review regression: a hard crash inside a compact's STATS swap (a
    plain two-rename table, no tiered journal) leaves stats unreadable
    with the original in stats.old. The next micro-batch's route probe
    must HEAL first — without it, _stats_committed() returns False and
    the step full-writes the index with batch-only content, silently
    dropping every previously ingested document from search."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream
    from comet_spark.storage.store import _FS

    src_dir = str(tmp_path / "hcs_src")
    ix_path = str(tmp_path / "hcs_ix")
    ckpt = str(tmp_path / "hcs_ckpt")
    rows1 = [(i, f"spark crash doc {i}") for i in range(1, 21)]
    _batch(spark, rows1).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=ckpt, buckets=4,
    )
    q.awaitTermination(120)

    # simulate the crash state a compact leaves between the stats swap's
    # two renames: live stats gone, original aside, partial rewrite left
    fs = _FS(spark, ix_path)
    assert fs.rename(f"{ix_path}/stats", f"{ix_path}/stats.old")
    spark.createDataFrame([(1,)], "x int").write.parquet(
        f"{ix_path}/stats.compacting"
    )

    rows2 = [(i, f"spark heal doc {i}") for i in range(100, 110)]
    _batch(spark, rows2).coalesce(1).write.mode("append").parquet(src_dir)
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string").parquet(src_dir),
        store, ix_path, checkpoint=ckpt, buckets=4,
    )
    q.awaitTermination(120)

    # every previously ingested doc still scores — NOT a batch-only index
    live = BM25.read(spark, ix_path)
    assert live.doc_len.count() == 30
    fresh = BM25(_batch(spark, rows1 + rows2))
    want = [tuple(r) for r in fresh.score("spark crash", k=0).collect()]
    got = [tuple(r) for r in live.score("spark crash", k=0).collect()]
    assert got == want


def test_bm25_append_heals_crashed_stats_swap(spark, tmp_path):
    """BM25.append on a compact crashed between the stats swap's renames
    must restore stats.old first — append only ever mode-appends into
    stats, so without the heal it would recreate a batch-only stats
    (n_docs/avgdl of one batch for every query) and the next compact's
    cleanup would delete the original for good."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25
    from comet_spark.storage.store import _FS

    full = spark.createDataFrame(
        [(i, f"spark data tables term{i % 5}") for i in range(1, 41)],
        "id bigint, text string",
    )
    want = [tuple(r) for r in BM25(full).score("spark tables", k=0).collect()]

    path = str(tmp_path / "statsheal")
    BM25(full.filter(F.col("id") <= 30)).write(path, buckets=4)
    fs = _FS(spark, path)
    assert fs.rename(f"{path}/stats", f"{path}/stats.old")  # crashed stats swap

    BM25.append(spark, path, full.filter(F.col("id") > 30))
    back = BM25.read(spark, path)
    assert [tuple(r) for r in back.score("spark tables", k=0).collect()] == want
    # and a follow-up compact consolidates without destroying anything
    BM25.compact(spark, path)
    back = BM25.read(spark, path)
    assert [tuple(r) for r in back.score("spark tables", k=0).collect()] == want


def test_pick_tier_merge_policy_matrix():
    """The tier policy as a pure function: top-tier protection, sub-tier
    merging, straggler waiting, epoch consolidation below the byte cap,
    and ABOVE the cap (r08, VERDICT r07 #3) the absolute size-class
    ladder — within-tier merging with one output per filled class, never
    re-merging a class into itself (the old rewrite-forever guard,
    upgraded from 'never merge' to 'merge with promotion')."""
    from comet_spark.storage.store import _pick_tier_merge, _size_class

    MB = 1 << 20
    # base + small appends: merge the smalls, keep the base
    kept, sets = _pick_tier_merge(
        [("base", 40 * MB), ("a", 1 * MB), ("b", 1 * MB), ("c", 2 * MB)]
    )
    assert kept == ["base"] and [sorted(s) for s in sets] == [["a", "b", "c"]]
    # a lone sub-tier straggler waits for company
    kept, sets = _pick_tier_merge([("base", 40 * MB), ("a", 1 * MB)])
    assert sets == [] and sorted(kept) == ["a", "base"]
    # multi-file base (all top-tier, under min_uniform) + one small: no
    # full-group rewrite just because one append arrived
    kept, sets = _pick_tier_merge(
        [("b1", 10 * MB), ("b2", 10 * MB), ("b3", 11 * MB), ("a", 1 * MB)]
    )
    assert sets == []
    # epoch consolidation: >= min_uniform top-tier files below the cap
    # merge whole (equal streaming batches / promoted tiers joining base)
    kept, sets = _pick_tier_merge(
        [("m1", 4 * MB), ("m2", 4 * MB), ("m3", 5 * MB), ("m4", 4 * MB),
         ("s", 1 * MB)]
    )
    assert kept == [] and len(sets) == 1 and len(sets[0]) == 5

    # --- above the consolidation cap: the size-class ladder ---
    # class arithmetic: [cap*4^c, cap*4^(c+1)) with cap=64MB
    assert _size_class(63 * MB) == -1
    assert _size_class(64 * MB) == 0 and _size_class(255 * MB) == 0
    assert _size_class(256 * MB) == 1 and _size_class(1023 * MB) == 1
    # a filled class (>= min_uniform members) merges into ONE output that
    # lands in the NEXT class — a full compact's equal rows_per_file
    # files consolidate once, then stop (no rewrite-forever)
    kept, sets = _pick_tier_merge(
        [("f1", 100 * MB), ("f2", 100 * MB), ("f3", 100 * MB), ("f4", 100 * MB)]
    )
    assert kept == [] and [sorted(s) for s in sets] == [["f1", "f2", "f3", "f4"]]
    # the merged output (~400MB, class 1) + refilled class 0: only class 0
    # merges — the promoted output waits for ITS class to fill
    kept, sets = _pick_tier_merge(
        [("p", 400 * MB), ("g1", 100 * MB), ("g2", 100 * MB),
         ("g3", 100 * MB), ("g4", 100 * MB)]
    )
    assert kept == ["p"] and [sorted(s) for s in sets] == [
        ["g1", "g2", "g3", "g4"]
    ]
    # an under-threshold class waits; the below-cap tail still merges
    kept, sets = _pick_tier_merge(
        [("f1", 100 * MB), ("f2", 100 * MB), ("f3", 100 * MB),
         ("f4", 100 * MB), ("a", 1 * MB), ("b", 1 * MB)]
    )
    assert [sorted(s) for s in sets] == [["a", "b"], ["f1", "f2", "f3", "f4"]]
    kept, sets = _pick_tier_merge(
        [("f1", 100 * MB), ("f2", 100 * MB), ("a", 1 * MB), ("b", 1 * MB)]
    )
    assert [sorted(s) for s in sets] == [["a", "b"]] and sorted(kept) == [
        "f1", "f2"
    ]
    # two classes fill simultaneously -> two merge sets, one per class
    kept, sets = _pick_tier_merge(
        [("c0_%d" % i, 100 * MB) for i in range(4)]
        + [("c1_%d" % i, 500 * MB) for i in range(4)]
    )
    assert kept == [] and [sorted(s) for s in sets] == [
        ["c0_0", "c0_1", "c0_2", "c0_3"],
        ["c1_0", "c1_1", "c1_2", "c1_3"],
    ]
    # terminal files (>= ladder max) are kept for the full compact only
    GB = 1 << 30
    kept, sets = _pick_tier_merge(
        [("t1", 2 * GB), ("t2", 2 * GB), ("t3", 2 * GB), ("t4", 2 * GB),
         ("a", 1 * MB), ("b", 1 * MB)]
    )
    assert sorted(kept) == ["t1", "t2", "t3", "t4"]
    assert [sorted(s) for s in sets] == [["a", "b"]]
    # single file / empty: nothing to do
    assert _pick_tier_merge([("one", MB)]) == (["one"], [])
    assert _pick_tier_merge([]) == ([], [])


def test_store_full_compact_crash_sweep(spark, tmp_path):
    """Every rename crash point in the FULL compact's two-rename swap
    heals on re-run (the tiered path has its own sweep; this drives the
    plain move-aside-then-install protocol the same way), including
    with pending deletes applied mid-flight."""

    for k, crash in rename_crash_points(limit=12):
        store = DocumentStore(spark, str(tmp_path / f"fsweep{k}"))
        store.append(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]))
        store.append(_batch(spark, [(2, "b2"), (4, "d")]))
        store.delete(spark.createDataFrame([(3,)], "id bigint"))
        want = {(r["id"], r["text"]) for r in store.read().collect()}
        assert want == {(1, "a"), (2, "b2"), (4, "d")}

        with crash:
            store.compact()

        store.compact()  # heal + complete
        for suf in (".old", ".compacting"):
            assert not store._fs.exists(store.data_path + suf), (k, suf)
        assert {(r["id"], r["text"]) for r in store.read().collect()} == want, k
        # deletes were applied and dropped by whichever compact finished
        assert not any(
            f.endswith(".parquet") or f.startswith("part-")
            for f in store._fs.listdir(store.deletes_path)
        ), k


def test_cms_torn_base_ignored_and_remerged(spark, tmp_path):
    """Crash safety of the CMS compaction watermark (ADVICE r09): a
    compaction that died mid-write of ``base_upto=<k>`` leaves a TORN
    directory (no ``_SUCCESS`` job-commit marker). Readers and the
    replayed compaction must ignore it — the old behavior honored it as
    the watermark, skipped the replayed merge (upto == old_upto), and
    the cleanup then deleted the absorbed ``batch=<id>`` parts,
    permanently losing their counts."""
    import os

    from comet_spark.operators.sketch import cms_sketch
    from comet_spark.streaming.ingest import _cms_compact, cms_stream_counters

    rows = [(i, f"u{i % 23}") for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v string")
    state = str(tmp_path / "cms_state")
    for m in range(3):
        cms_sketch(df.filter(F.col("id") % 3 == m).select("v"), "v").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{state}/batch={m}")
    want = {(r["i"], r["bucket"]): r["c"] for r in cms_sketch(df, "v").collect()}

    # crash mid-write of the first compaction: the base directory was
    # created but the parquet job never committed (_SUCCESS absent, no
    # data files yet), and the absorbed parts were not deleted
    os.makedirs(f"{state}/base_upto=1")
    got = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_stream_counters(spark, state).collect()
    }
    assert got == want  # readers never count a torn base

    _cms_compact(spark, state, upto=1)  # the replayed compaction
    names = set(os.listdir(state))
    assert "base_upto=1" in names and not {"batch=0", "batch=1"} & names
    assert os.path.exists(f"{state}/base_upto=1/_SUCCESS")  # committed now
    got2 = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_stream_counters(spark, state).collect()
    }
    assert got2 == want  # re-merge absorbed the parts losslessly


def test_stream_into_store_delete_markers(spark, store, tmp_path):
    """CRUD × streaming (reference Remove rides the same write path as
    Add, storage.go): with ``op_col``, delete-marker rows apply as one
    sequenced soft delete AFTER the batch's upserts land — a batch
    deleting an id it also upserts deletes it, and a LATER batch's
    re-append resurrects it (the store's watermark rule, unchanged)."""
    src_dir = str(tmp_path / "incoming")

    def _feed(rows):
        spark.createDataFrame(
            rows, "id bigint, text string, op string"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    # batch 0: inserts 1..4
    _feed([(1, "a", None), (2, "b", None), (3, "c", None), (4, "d", None)])
    # batch 1: delete 2 and 3, upsert 4, AND both upsert-and-delete 1
    # (delete wins within a batch)
    _feed([
        (2, None, "delete"), (3, None, "delete"),
        (4, "d2", None), (1, "a2", None), (1, None, "delete"),
    ])
    # batch 2: re-append 3 (resurrects past its delete watermark)
    _feed([(3, "c3", None)])

    stream = (
        spark.readStream.schema("id bigint, text string, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = stream_into_store(
        stream, store, checkpoint=str(tmp_path / "ckpt"), op_col="op"
    )
    assert q.awaitTermination(120)

    got = {r["id"]: r["text"] for r in store.read().collect()}
    assert got == {3: "c3", 4: "d2"}
    # compaction hard-deletes without changing the view
    store.compact()
    assert {r["id"]: r["text"] for r in store.read().collect()} == got


def test_sessionize_stream_idle_timeout(spark, tmp_path):
    """EventTimeTimeout mode: an idle session EMITS (and its state
    evicts) once the event-time watermark strictly passes
    last_event + gap; sessions still inside the horizon stay open, and
    event-closed sessions emit as before. gap=1min, delay=2min,
    max ts=300s -> watermark 180s: A(last 30s, horizon 90s) times out,
    C's first session closes by event, C's second (horizon 260s) and
    B (horizon 360s) hold."""
    from comet_spark.streaming.ingest import sessionize_stream

    US = 1_000_000
    B0 = 1_700_000_000 * US  # realistic epoch base: the initial watermark
    # is 0 ms, and rows at/below the watermark are dropped as late
    rows = [
        ("A", B0), ("A", B0 + 30 * US),
        ("C", B0), ("C", B0 + 200 * US),
        ("D", B0 + 120 * US),  # horizon 180s == final watermark exactly:
        # pins the STRICT `<` firing rule (held back, not emitted)
        ("B", B0 + 300 * US),
    ]
    src = str(tmp_path / "sess_in")
    df = spark.createDataFrame(rows, "user_id string, tus bigint")
    for lo, hi in ((0, 100), (100, 301)):  # ts-ordered micro-batches
        df.filter(
            (F.col("tus") >= B0 + lo * US) & (F.col("tus") < B0 + hi * US)
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id string, tus bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("user_id", F.timestamp_micros("tus").alias("ts"))
    )
    sess = sessionize_stream(
        stream, ts_col="ts", user_col="user_id",
        gap_minutes=1, idle_close_watermark="2 minutes",
    )
    q = (
        sess.select(
            "user_id",
            F.unix_micros("session_start").alias("s"),
            F.unix_micros("session_end").alias("e"),
            "n_events",
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_timeout")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess_to"))
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("select * from sess_timeout").collect()
    }
    assert got == {
        ("A", B0, B0 + 30 * US, 2),  # idle-closed by timeout
        ("C", B0, B0, 1),            # closed by C's own later event
    }


def test_bm25_ingest_stream_delete_markers(spark, store, tmp_path):
    """Delete markers riding bm25_ingest_stream (op_col): the final
    index scores exactly like a fresh build over the corpus minus the
    deleted docs (read-path corrections: results, df, n_docs, avgdl),
    the store hides them too, and a delete of a never-indexed id is
    skipped, not an error."""
    from comet_spark.operators.bm25 import BM25
    from comet_spark.streaming.ingest import bm25_ingest_stream

    src_dir = str(tmp_path / "incoming")

    def _feed(rows):
        spark.createDataFrame(
            rows, "id bigint, text string, op string"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    _feed([(1, "spark joins tables", None), (2, "spark streams data", None)])
    # batch 1: new inserts + delete doc 2 + delete a never-indexed id
    _feed([
        (3, "tables of data", None), (4, "fast spark scans", None),
        (2, None, "delete"), (999, None, "delete"),
    ])
    _feed([(5, "spark scans tables fast", None)])

    ix_path = str(tmp_path / "bm25_del_live")
    q = bm25_ingest_stream(
        spark.readStream.schema("id bigint, text string, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        store, ix_path, checkpoint=str(tmp_path / "ckpt"), op_col="op",
    )
    assert q.awaitTermination(120)

    assert sorted(r["id"] for r in store.read().collect()) == [1, 3, 4, 5]
    live = BM25.read(spark, ix_path)
    want_ix = BM25(store.read(), id_col="id", text_col="text")
    got = [tuple(r) for r in live.score("spark tables", k=10).collect()]
    want = [tuple(r) for r in want_ix.score("spark tables", k=10).collect()]
    assert got == want and len(got) > 0
    assert all(r[0] != 2 for r in got)


def test_stream_into_store_rejects_unknown_op(spark, tmp_path):
    """An unrecognized non-null op value must FAIL the micro-batch
    loudly — treated as an upsert, the NULL-payload marker row would
    shadow the live document under newest-wins (review r10)."""
    from comet_spark.storage.store import DocumentStore

    src_dir = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(1, "a", None), (2, None, "DELETE")],  # case mismatch = typo
        "id bigint, text string, op string",
    ).coalesce(1).write.mode("append").parquet(src_dir)
    q = stream_into_store(
        spark.readStream.schema("id bigint, text string, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        DocumentStore(spark, str(tmp_path / "store2")),
        checkpoint=str(tmp_path / "ckpt2"), op_col="op",
    )
    with pytest.raises(Exception, match="unrecognized op"):
        q.awaitTermination(120)


def test_fresh_stream_artifact_probe_paths_route_rebuild(spark, tmp_path):
    """A partially-cleaned artifact — a ``probe_paths`` component gone
    while ``out`` is intact — must route into ONE rebuild, not serve.
    The load-bearing case is the CRUD store's ``_deletes`` dir (ADVICE
    r10): _FS.listdir returns [] for a missing path, so without the
    probe the store would silently serve with every deletion
    un-applied."""
    import os
    import shutil

    import __spark_entry__ as entry_mod

    base = str(tmp_path / "art")
    out, probe = f"{base}/out", f"{base}/store/_deletes"
    builds = []

    def build():
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        spark.range(3).repartition(1).write.mode("overwrite").parquet(out)
        spark.range(1).repartition(1).write.mode("overwrite").parquet(probe)
        builds.append(1)

    sf_dir = "/root/testdata/sf0.001"
    key = (
        entry_mod._skey(spark), sf_dir, base,
        entry_mod._corpus_sig(sf_dir, "documents"),
    )

    def call():
        entry_mod._STREAM_ART_BUILT.discard(key)  # fresh-session view
        return entry_mod._fresh_stream_artifact(
            spark, sf_dir, base, out, build, probe_paths=[probe]
        )

    assert call().count() == 3 and builds == [1]
    call()  # healthy artifact reopens without a rebuild
    assert builds == [1]
    shutil.rmtree(probe)  # the partial cleanup: probe gone, out intact
    call()
    assert builds == [1, 1], "missing probe component must force rebuild"


def test_ivf_serving_view_gates_torn_tail_dirs(spark, tmp_path):
    """The serving view unions full_v{CURRENT} with tail batches NEWER
    than CURRENT — but only _SUCCESS-committed ones: a torn tail dir
    (crash mid-write, no _SUCCESS) must be EXCLUDED until the stream's
    replay rewrites it, and stale tail batches at-or-below CURRENT are
    already folded into the full layout."""
    import os

    from comet_spark.operators.ann import IVFIndex
    from comet_spark.streaming.ingest import ivf_serving_view

    base = str(tmp_path / "index")
    with pytest.raises(FileNotFoundError, match="committed version"):
        ivf_serving_view(spark, base)

    vecs = [(i, [float(i), float(i % 3)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "id bigint, vector array<double>")
    ivf = IVFIndex.train(df, 2)
    full = f"{base}/full_v2"
    ivf.write(ivf.assign(df.filter("id < 6")), f"{full}/layout.parquet")
    ivf.save(spark, full)
    os.makedirs(f"{base}/_versions", exist_ok=True)
    with open(f"{base}/_versions/2", "w") as fh:
        fh.write("committed")

    def tail(bid, pred):
        ivf.assign(df.filter(pred)).repartition("cluster_id").write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(f"{base}/tail/batch={bid}")

    tail(1, "id >= 6 and id < 8")   # stale: folded into full_v2 already
    tail(3, "id >= 6 and id < 9")   # committed, newer than CURRENT
    tail(4, "id >= 9")              # newer, then torn: drop _SUCCESS
    os.remove(f"{base}/tail/batch=4/_SUCCESS")

    _, layout = ivf_serving_view(spark, base)
    got = sorted(r["id"] for r in layout.select("id").collect())
    assert got == list(range(9)), got  # full(0-5) + batch3(6-8); 4 torn


def test_store_reader_vs_compact_swap_race_fails_loud_then_rereads(
    spark, store
):
    """The reader-vs-compaction race (VERDICT r10 #2): a DataFrame held
    over ``store.read()`` resolves its parquet file listing at plan
    time; ``compact()`` (full or tiered — same two-rename swap)
    replaces those files. Executing the STALE plan afterwards must fail
    LOUDLY (FAILED_READ_FILE / FileNotFound — never a silent partial or
    empty answer), and a fresh ``store.read()`` — which re-lists — must
    serve the exact compacted corpus. This is the store's documented
    reader contract (SCALE.md): loud-fail-then-reread, the same
    exposure model the deletes migration states inline; retries are
    correct because every swap is all-or-nothing (journal-healed), so a
    re-listed reader can never observe half a compact."""
    for i in range(3):
        store.append(
            _batch(spark, [(i * 10 + j, f"v{i}") for j in range(5)])
        )
    held = store.read()
    assert held.count() == 15  # plan resolved against pre-compact files
    store.compact()
    with pytest.raises(Exception, match="(?i)file.*(not exist|notfound)"):
        held.collect()
    fresh = store.read()
    got = sorted(r["id"] for r in fresh.collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(5))


def test_store_reader_vs_tiered_compact_swap_race_fails_loud(spark, tmp_path):
    """Tiered twin of the reader-vs-compaction race: compact(tiered=True)
    merges the small tail behind the largest segment through the same
    journaled rename-swap, so a plan held across it must ALSO fail
    loudly (stale file listing) — never serve a silent partial merge —
    and a fresh read() serves the exact corpus."""
    store = DocumentStore(spark, str(tmp_path / "store"))
    # one larger base + a small tail the tiered policy will merge
    store.append(_batch(spark, [(j, "base") for j in range(200)]))
    for i in range(1, 4):
        store.append(_batch(spark, [(200 + i, f"tail{i}")]))
    held = store.read()
    assert held.count() == 203
    n_before = store.segment_count()
    store.compact(tiered=True)
    assert store.segment_count() < n_before  # the tail really merged
    with pytest.raises(Exception, match="(?i)file.*(not exist|notfound)"):
        held.collect()
    got = sorted(r["id"] for r in store.read().collect())
    assert got == list(range(200)) + [201, 202, 203]


def test_ivf_ingest_stream_rejects_fresh_checkpoint_on_existing_index(
    spark, tmp_path
):
    """The index base is scoped to ONE checkpoint lineage: a fresh
    checkpoint restarts batch numbering, and a recycled batch_id would
    hit a stale version marker (batch silently skipped — data loss) or
    land a tail below the committed version (never served). The first
    batch after a (re)start must fail FAST when its id is below the
    committed version (review r11 pass 3)."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream

    src = str(tmp_path / "src")
    index_base = str(tmp_path / "index")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain(ckpt):
        q = ivf_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
            index_base, checkpoint=ckpt, nlist=2, refresh_every=2,
        )
        assert q.awaitTermination(300)

    for b in range(3):  # batches 0,1,2 → boot v0, tail, refresh v2
        feed(b * 10, b * 10 + 8)
    drain(str(tmp_path / "ckpt1"))
    assert os.path.exists(f"{index_base}/_versions/2")
    feed(30, 38)  # new data — a fresh checkpoint sees it as batch 0
    with pytest.raises(Exception, match="fresh checkpoint"):
        drain(str(tmp_path / "ckpt2"))


def test_ivf_ingest_stream_replays_uncommitted_refresh(spark, tmp_path):
    """The OTHER refresh crash window: the crash lands BETWEEN the full
    layout write and the version-marker commit (simulated by deleting
    the marker along with the checkpoint commit). The version dir is
    UNREFERENCED — no reader can be pointed at it — so the replay must
    RE-RUN the refresh: re-append (duplicate segment, newest-wins
    hidden), rewrite the version dir, and commit the marker. Serving
    afterwards holds every fed id exactly once. (The marker-present
    window — replay must SKIP, dir immutable — is gated by the
    ivf_live_refresh_knn oracle artifact.)"""
    import glob
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i), float(i % 5)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = ivf_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, refresh_every=2,
        )
        assert q.awaitTermination(300)

    for b in range(3):  # boot v0, tail 1, refresh v2
        feed(b * 10, b * 10 + 8)
    drain()
    marker = f"{index_base}/_versions/2"
    assert os.path.exists(marker)
    before = set(glob.glob(f"{index_base}/full_v2/layout.parquet/*/*.parquet"))
    # the injected crash: marker never landed, checkpoint commit lost
    # (_lose_latest_commit also removes the .crc twin — a stale checksum
    # would poison the replay's rewrite of the same commit file)
    from __spark_entry__ import _lose_latest_commit

    os.remove(marker)
    _lose_latest_commit(ckpt)
    feed(30, 38)  # batch 3
    drain()  # replay batch 2: re-refresh the UNREFERENCED dir, re-commit
    assert os.path.exists(marker)
    after = set(glob.glob(f"{index_base}/full_v2/layout.parquet/*/*.parquet"))
    assert before and before != after, "unreferenced version dir must be rewritten"
    # no skip journal: this replay did real work
    assert not os.path.exists(f"{index_base}/_skips/2")
    # the re-appended duplicate segment exists and is hidden by the merge
    assert store.segment_count() == 5
    _, layout = ivf_serving_view(spark, index_base)
    got = sorted(r["id"] for r in layout.select("id").collect())
    want = sorted(i for b in range(4) for i in range(b * 10, b * 10 + 8))
    assert got == want


def test_ivf_ingest_stream_guard_covers_tail_only_growth(spark, tmp_path):
    """Under the refresh_every=0 DEFAULT the committed version stays at
    the boot batch forever while tails grow — the lineage guard must
    compare against the newest batch EVER WRITTEN (version OR tail), or
    a fresh checkpoint's recycled batch 0 hits the boot marker's skip
    branch (data silently dropped) and its later batches overwrite
    SERVED tail dirs (review r11 pass 4)."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream

    src = str(tmp_path / "src")
    index_base = str(tmp_path / "index")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain(ckpt):
        q = ivf_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
            index_base, checkpoint=ckpt, nlist=2,  # refresh_every=0
        )
        assert q.awaitTermination(300)

    for b in range(3):  # boot v0, then tails 1 and 2 — version stays 0
        feed(b * 10, b * 10 + 8)
    drain(str(tmp_path / "ckpt1"))
    assert os.path.exists(f"{index_base}/_versions/0")
    assert not os.path.exists(f"{index_base}/_versions/2")
    assert os.path.exists(f"{index_base}/tail/batch=2/_SUCCESS")
    feed(30, 38)
    with pytest.raises(Exception, match="fresh checkpoint"):
        drain(str(tmp_path / "ckpt2"))


def test_ivf_ingest_stream_empty_batch_runs_scheduled_refresh(spark, tmp_path):
    """An empty micro-batch that lands ON a scheduled refresh still runs
    it over the merged store view (ADVICE r11): skipping would silently
    extend centroid drift until the next multiple of refresh_every."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    feed(0, 8)     # batch 0 → boot v0
    feed(10, 18)   # batch 1 → tail
    feed(20, 20)   # batch 2: EMPTY file → scheduled refresh must still run
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        index_base, checkpoint=ckpt, nlist=2, refresh_every=2,
    )
    assert q.awaitTermination(300)
    assert os.path.exists(f"{index_base}/_versions/2"), (
        "the empty trigger's scheduled refresh was skipped"
    )
    _, layout = ivf_serving_view(spark, index_base)
    got = sorted(r["id"] for r in layout.select("id").collect())
    assert got == sorted(list(range(0, 8)) + list(range(10, 18)))


def test_ivf_ingest_stream_crud_ops(spark, tmp_path):
    """op_col CRUD through the live-maintained IVF stream: upserts
    re-assign into the tail and shadow older assignments (newest-wins
    by version precedence), delete markers hide rows at or below their
    batch, a same-batch delete beats its own upsert, and a LATER
    re-append resurrects — the store's segment-watermark rule mirrored
    at the serving view."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = ivf_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, op_col="op",
        )
        assert q.awaitTermination(300)

    # batch 0: inserts 0..7 → boot v0
    feed([(i, [float(i), 0.0], None) for i in range(8)])
    # batch 1: upsert id 2 (moved vector), upsert id 6 AND delete id 6
    # (delete wins within a batch), delete id 5, fresh ids 10..13
    feed(
        [(2, [100.0, 100.0], None), (6, [6.5, 0.0], None)]
        + [(i, [float(i), 0.0], None) for i in range(10, 14)]
        + [(6, None, "delete"), (5, None, "delete")]
    )
    drain()
    assert os.path.exists(f"{index_base}/_crud")
    assert os.path.exists(f"{index_base}/_deletes/batch=1/_SUCCESS")
    _, layout = ivf_serving_view(spark, index_base)
    got = {r["id"]: r["vector"] for r in layout.collect()}
    want_ids = ({0, 1, 2, 3, 4, 7} | set(range(10, 14)))  # 5 and 6 deleted
    assert set(got) == want_ids
    assert got[2] == [100.0, 100.0], "tail upsert must shadow the full layout"
    # batch 2: re-append id 5 → resurrects (upsert batch 2 > delete batch 1)
    feed([(5, [55.0, 0.0], None)])
    drain()
    _, layout = ivf_serving_view(spark, index_base)
    got = {r["id"]: r["vector"] for r in layout.collect()}
    assert set(got) == want_ids | {5}
    assert got[5] == [55.0, 0.0]
    # the serving view agrees with the store's own merged view on ids
    store_ids = {r["id"] for r in store.read().select("id").collect()}
    assert set(got) == store_ids


def test_pq_ingest_stream_versioned_refresh_and_skip_replay(spark, tmp_path):
    """The PQ maintenance engine: boot trains v0, tails encode with the
    current codebooks, the scheduled refresh commits an immutable
    full_v2 (marker create), and a crash BETWEEN the version commit and
    the checkpoint commit skip-replays with zero writes (journaled).
    Serving ADC-parity: the view's codes score identically to a direct
    encode of the corpus under the same codebooks."""
    import glob
    import os

    import numpy as np

    from __spark_entry__ import _lose_latest_commit
    from comet_spark.operators.ann import PQIndex
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import pq_ingest_stream, pq_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(32, 4)).round(3)

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = pq_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, m=2, nbits=2,
            refresh_every=2,
        )
        assert q.awaitTermination(300)

    for b in range(3):  # boot v0, tail 1, refresh v2
        feed(b * 8, b * 8 + 8)
    drain()
    assert os.path.exists(f"{index_base}/_versions/2")
    assert os.path.exists(f"{index_base}/tail/batch=1/_SUCCESS")
    before = set(glob.glob(f"{index_base}/full_v2/codes.parquet/*.parquet"))
    _lose_latest_commit(ckpt)  # crash between version commit and ckpt commit
    feed(24, 32)  # batch 3 → tail under v2 codebooks
    drain()  # batch 2 replays → must SKIP (marker = done record)
    after = set(glob.glob(f"{index_base}/full_v2/codes.parquet/*.parquet"))
    assert before and before == after, "committed version dir was mutated"
    assert os.path.exists(f"{index_base}/_skips/2")
    # 4 segments for 4 fed batches: the skip means no re-append
    assert store.segment_count() == 4
    pq, codes = pq_serving_view(spark, index_base)
    assert codes.count() == 32
    qvec = [float(x) for x in vecs[0]]
    got = [(r["id"], r["score"]) for r in pq.search(codes, qvec, k=5).collect()]
    direct = pq.encode(store.read())
    want = [(r["id"], r["score"]) for r in pq.search(direct, qvec, k=5).collect()]
    assert got == want


def test_pq_ingest_stream_crud_ops(spark, tmp_path):
    """op_col CRUD through the live-maintained PQ stream (r13 — the
    codes twin of test_ivf_ingest_stream_crud_ops): upserts re-encode
    into the tail and shadow older codes (newest-wins by version
    precedence), delete markers hide rows at or below their batch, a
    same-batch delete beats its own upsert, a LATER re-append
    resurrects, and the serving codes stay exactly the current-codebook
    encode of the store's merged view."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import pq_ingest_stream, pq_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = pq_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, m=2, nbits=2, op_col="op",
        )
        assert q.awaitTermination(300)

    # batch 0: inserts 0..7 → boot v0
    feed([(i, [float(i), float(i) / 2, 0.0, 1.0], None) for i in range(8)])
    # batch 1: upsert id 2 (moved vector), upsert id 6 AND delete id 6
    # (delete wins within a batch), delete id 5, fresh ids 10..13
    feed(
        [(2, [100.0, 100.0, 0.0, 1.0], None), (6, [6.5, 0.0, 0.0, 1.0], None)]
        + [(i, [float(i), 0.0, 0.0, 1.0], None) for i in range(10, 14)]
        + [(6, None, "delete"), (5, None, "delete")]
    )
    drain()
    assert os.path.exists(f"{index_base}/_crud")
    assert os.path.exists(f"{index_base}/_deletes/batch=1/_SUCCESS")
    pq, codes = pq_serving_view(spark, index_base)
    got = {r["id"] for r in codes.select("id").collect()}
    want_ids = ({0, 1, 2, 3, 4, 7} | set(range(10, 14)))  # 5 and 6 deleted
    assert got == want_ids
    # the serving codes ARE the current-codebook encode of the merged
    # view (newest-wins, deletes applied) — upsert shadowing included
    direct = {
        (r["id"], tuple(r["codes"]))
        for r in pq.encode(store.read()).collect()
    }
    served = {(r["id"], tuple(r["codes"])) for r in codes.collect()}
    assert served == direct
    # batch 2: re-append id 5 → resurrects (upsert batch 2 > delete batch 1)
    feed([(5, [55.0, 0.0, 0.0, 1.0], None)])
    drain()
    _, codes = pq_serving_view(spark, index_base)
    assert {r["id"] for r in codes.select("id").collect()} == want_ids | {5}
    # a NULL-vector upsert fails the PQ CRUD batch loudly too
    feed([(3, None, None)])
    q = pq_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        store, index_base, checkpoint=ckpt, m=2, nbits=2, op_col="op",
    )
    with pytest.raises(Exception, match="NULL-payload upsert"):
        assert q.awaitTermination(300)


def test_pq_crud_refresh_bakes_markers(spark, tmp_path):
    """A scheduled PQ retrain under CRUD bakes tails and markers into
    full_v{N} (codes + codebooks re-trained on the post-CRUD merged
    view); a scheduled batch's own deletes are baked by its retrain —
    no marker partition is written for it — and the view prunes markers
    ≤ the committed version."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import pq_ingest_stream, pq_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    feed([(i, [float(i), 0.0, 1.0, 0.0], None) for i in range(8)])     # b0 → v0
    feed(  # b1 tail: a delete marker + fresh inserts
        [(i, [float(i), 0.0, 1.0, 0.0], None) for i in range(10, 14)]
        + [(7, None, "delete")]
    )
    feed(  # b2 = scheduled REFRESH with upserts AND deletes
        [(2, [200.0, 0.0, 1.0, 0.0], None)]
        + [(i, [float(i), 0.0, 1.0, 0.0], None) for i in range(20, 24)]
        + [(5, None, "delete")]
    )
    q = pq_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        store, index_base, checkpoint=ckpt, m=2, nbits=2,
        refresh_every=2, op_col="op",
    )
    assert q.awaitTermination(300)
    assert os.path.exists(f"{index_base}/_versions/2")
    assert os.path.exists(f"{index_base}/_deletes/batch=1/_SUCCESS")
    assert not os.path.exists(f"{index_base}/_deletes/batch=2"), (
        "scheduled batch wrote a delete marker its retrain already baked"
    )
    pq, codes = pq_serving_view(spark, index_base)
    got = {r["id"] for r in codes.select("id").collect()}
    assert got == (set(range(8)) | set(range(10, 14)) | set(range(20, 24))) - {5, 7}
    # the baked codes equal a direct encode of the merged view
    direct = {
        (r["id"], tuple(r["codes"]))
        for r in pq.encode(store.read()).collect()
    }
    assert {(r["id"], tuple(r["codes"])) for r in codes.collect()} == direct


def test_ivfpq_ingest_stream_versioned_refresh_and_crud(spark, tmp_path):
    """The residual codes engine (r13 — the shared _codes_engine_stream
    protocol instantiated with IVFPQIndex): tails encode (cluster_id +
    residual codes) with the CURRENT centroids+codebooks, the scheduled
    refresh retrains BOTH levels and re-encodes into an immutable
    marker-committed full_v{N}, a crash between the version commit and
    the checkpoint commit skip-replays with zero writes, and CRUD
    upserts/deletes resolve through the shared serving view — ADC
    parity against a direct encode of the merged corpus throughout."""
    import glob
    import os

    from __spark_entry__ import _lose_latest_commit
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import (
        ivfpq_ingest_stream,
        ivfpq_serving_view,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = ivfpq_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>, op string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, m=2, nbits=2,
            refresh_every=2, max_iter=5, op_col="op",
        )
        assert q.awaitTermination(300)

    vec = lambda i: [float(i % 7), float(i % 5), float(i % 3), 1.0]  # noqa: E731
    feed([(i, vec(i), None) for i in range(8)])           # b0 → boot v0
    feed(  # b1 tail: upsert id 2, delete id 5, fresh ids
        [(2, [9.0, 9.0, 9.0, 9.0], None)]
        + [(i, vec(i), None) for i in range(10, 14)]
        + [(5, None, "delete")]
    )
    feed([(i, vec(i), None) for i in range(20, 24)])      # b2 = REFRESH → v2
    drain()
    assert os.path.exists(f"{index_base}/_versions/2")
    assert os.path.exists(f"{index_base}/_deletes/batch=1/_SUCCESS")
    ix, codes = ivfpq_serving_view(spark, index_base)
    assert set(codes.columns) == {"id", "cluster_id", "codes"}
    want_ids = (set(range(8)) | set(range(10, 14)) | set(range(20, 24))) - {5}
    assert {r["id"] for r in codes.select("id").collect()} == want_ids
    # serving == direct encode of the merged view (both levels current)
    direct = {
        (r["id"], r["cluster_id"], tuple(r["codes"]))
        for r in ix.encode(store.read()).collect()
    }
    served = {
        (r["id"], r["cluster_id"], tuple(r["codes"])) for r in codes.collect()
    }
    assert served == direct
    # crash between version commit and checkpoint commit → skip-replay
    before = set(glob.glob(f"{index_base}/full_v2/codes.parquet/*.parquet"))
    _lose_latest_commit(ckpt)
    feed([(i, vec(i), None) for i in range(30, 34)])      # b3 tail under v2
    drain()
    after = set(glob.glob(f"{index_base}/full_v2/codes.parquet/*.parquet"))
    assert before and before == after, "committed version dir was mutated"
    assert os.path.exists(f"{index_base}/_skips/2")
    ix, codes = ivfpq_serving_view(spark, index_base)
    assert {r["id"] for r in codes.select("id").collect()} == (
        want_ids | set(range(30, 34))
    )
    # cluster-pruned ADC over the union matches the direct encode
    got = [
        (r["id"], r["score"])
        for r in ix.search(codes, vec(0), k=5, nprobe=2).collect()
    ]
    want = [
        (r["id"], r["score"])
        for r in ix.search(
            ix.encode(store.read()), vec(0), k=5, nprobe=2
        ).collect()
    ]
    assert got == want


def test_pq_crud_stream_with_custom_id_col(spark, tmp_path):
    """The codes layouts CANONICALIZE ids (PQIndex.encode renames to
    bigint 'id' — unlike IVF's assign, which preserves id_col), so a
    CRUD stream with id_col='doc_id' must record the canonical name in
    _crud_meta and write markers under it, or the serving view windows
    on a column the codes don't have (review r13 pass 1 — the view was
    unserveable). Also: a non-integral id_col fails fast instead of
    NULLing every id under the cast."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import pq_ingest_stream, pq_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="doc_id")

    def feed(rows):
        spark.createDataFrame(
            rows, "doc_id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = pq_ingest_stream(
            spark.readStream.schema(
                "doc_id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, m=2, nbits=2,
            op_col="op", id_col="doc_id",
        )
        assert q.awaitTermination(300)

    feed([(i, [float(i), 0.0, 1.0, 0.0], None) for i in range(8)])
    feed(  # tail: upsert doc 2, delete doc 5, fresh docs
        [(2, [100.0, 100.0, 0.0, 1.0], None)]
        + [(i, [float(i), 0.0, 1.0, 0.0], None) for i in range(10, 13)]
        + [(5, None, "delete")]
    )
    drain()
    with open(f"{index_base}/_crud_meta") as fh:
        assert fh.read() == "id"  # canonical, not the stream's doc_id
    pq, codes = pq_serving_view(spark, index_base)
    got = {r["id"] for r in codes.select("id").collect()}
    assert got == ({0, 1, 2, 3, 4, 6, 7} | {10, 11, 12})
    # the upsert shadows: codes for id 2 equal the new vector's encode
    # (encode canonicalizes doc_id → bigint id, same as the stream)
    direct = {
        (r["id"], tuple(r["codes"]))
        for r in pq.encode(store.read(), id_col="doc_id").collect()
    }
    assert {(r["id"], tuple(r["codes"])) for r in codes.collect()} == direct
    # a non-integral id_col fails fast at boot
    src2, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0], None)],
        "doc_id string, vector array<double>, op string",
    ).repartition(1).write.mode("append").parquet(src2)
    q = pq_ingest_stream(
        spark.readStream.schema("doc_id string, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src2),
        DocumentStore(spark, str(tmp_path / "store2"), id_col="doc_id"),
        str(tmp_path / "index2"), checkpoint=ckpt2, m=2, nbits=2,
        op_col="op", id_col="doc_id",
    )
    with pytest.raises(Exception, match="integral|canonicalizes"):
        assert q.awaitTermination(300)


def test_codes_engine_rejects_id_col_swap_on_restart(spark, tmp_path):
    """The codes layout's column name is always the canonical 'id', so
    the _crud_meta guard alone cannot catch a restart under a DIFFERENT
    source column — two integral columns would interleave two id SPACES
    into one index with no loud failure (review r13 pass 2). The
    engines record _stream_id_col and fail fast on a swap."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import pq_ingest_stream

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="doc_id")
    schema = "doc_id bigint, alt_id bigint, vector array<double>, op string"

    def feed(rows):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)

    def drain(id_col):
        return pq_ingest_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, m=2, nbits=2,
            op_col="op", id_col=id_col,
        )

    feed([(i, 100 + i, [float(i), 0.0, 1.0, 0.0], None) for i in range(8)])
    q = drain("doc_id")
    assert q.awaitTermination(300)
    feed([(8, 108, [8.0, 0.0, 1.0, 0.0], None)])
    q = drain("alt_id")  # restart keyed by the OTHER integral column
    with pytest.raises(Exception, match="id_col='alt_id' differs"):
        assert q.awaitTermination(300)


def test_hnsw_crud_demote_journals_before_first_consolidation(spark, tmp_path):
    """The graph engine serves per-batch sub-graphs BEFORE any
    consolidation commits, so a scheduled consolidation demoted by an
    emptied corpus must journal the missed cycle even when no version
    exists yet (review r13 pass 1 — cur=None is not 'nothing served'
    for HNSW)."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    feed([(i, [float(i), 0.0], None) for i in range(6)])   # b0 parts
    feed([(i, None, "delete") for i in range(6)])          # b1 empties
    feed([])                                               # b2 scheduled
    q = hnsw_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        store, graph_base, checkpoint=ckpt, m=4, parts_per_batch=2,
        refresh_every=2, op_col="op",
    )
    assert q.awaitTermination(300)
    assert os.path.exists(f"{graph_base}/_skips/empty_refresh_2"), (
        "pre-first-consolidation demote must journal — parts/batch=0 serves"
    )
    assert not os.path.exists(f"{graph_base}/_versions/2")


def test_hnsw_ingest_stream_crud_ops(spark, tmp_path):
    """op_col CRUD through the live-grown graph (r13): upserts join the
    graph as per-batch sub-graphs (the stale node keeps ROUTING
    traversal — reference hnsw_index.go:507-510), deletes apply as the
    store's sequenced soft-delete, and the serving tail's exact-rescore
    semi-join against the merged view excludes deleted ids and scores
    upserted ids with their NEWEST vector; a consolidation BAKES the
    CRUD state out of the graph; a retrain onto an emptied corpus
    demotes instead of crash-looping."""
    import os

    from comet_spark.operators.hnsw import score_candidates
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain(refresh_every=0):
        q = hnsw_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, graph_base, checkpoint=ckpt, m=4, parts_per_batch=2,
            refresh_every=refresh_every, op_col="op",
        )
        assert q.awaitTermination(300)

    def served_topk(k=4, ef=60):
        ix = hnsw_serving_view(spark, graph_base)
        cand = ix.candidates([0.0, 0.0], ef_search=ef).distinct()
        return {
            r["id"]: r["score"]
            for r in score_candidates(
                store.read(), cand, [0.0, 0.0], metric="l2", k=k
            ).collect()
        }

    # batch 0: inserts 0..7 on a line; batch 1: upsert id 1 FAR away,
    # upsert id 6 AND delete id 6 (delete wins in-batch), delete id 2
    feed([(i, [float(i), 0.0], None) for i in range(8)])
    feed(
        [(1, [100.0, 100.0], None), (6, [0.5, 0.5], None)]
        + [(6, None, "delete"), (2, None, "delete")]
    )
    drain()
    got = served_topk()
    # nearest to origin among alive newest state: 0, 3, 4, 5 (1 moved
    # away, 2 and 6 deleted) — the stale node for 1 still ROUTES but
    # must not appear with its old vector
    assert set(got) == {0, 3, 4, 5}, got
    # batch 2: resurrect id 2 + delete id 5 (marker rides an upsert)
    feed([(2, [0.25, 0.0], None), (5, None, "delete")])
    # batch 3: a genuinely DELETE-ONLY batch — the store soft-delete is
    # the whole write, no sub-graph dir may land (gb_rows None path)
    feed([(4, None, "delete")])
    drain()
    got = served_topk()
    assert set(got) == {2, 0, 3, 7}, got  # 2 resurrected; 4 gone
    assert os.path.exists(f"{graph_base}/parts/batch=2/_SUCCESS")
    assert not os.path.exists(f"{graph_base}/parts/batch=3"), (
        "a delete-only CRUD batch must not write a sub-graph dir"
    )
    # batch 4 = consolidation (refresh_every=4): bakes the CRUD state
    # into full_v4 — stale/deleted nodes leave the graph
    feed([])
    drain(refresh_every=4)
    assert os.path.exists(f"{graph_base}/_versions/4")
    ix = hnsw_serving_view(spark, graph_base)
    beam_all = {
        r["id"] for r in ix.candidates([0.0, 0.0], ef_search=200).collect()
    }
    assert beam_all == {0, 1, 2, 3, 7}, beam_all  # 4, 5, 6 baked out
    assert served_topk() == got  # serving unchanged by the bake
    # a consolidation onto an emptied corpus demotes, not crash-loops
    feed([(i, None, "delete") for i in [0, 1, 2, 3, 7]])  # batch 5
    feed([])  # batch 6
    feed([])  # batch 7
    feed([])  # batch 8 = scheduled (refresh_every=4) on an empty corpus
    drain(refresh_every=4)
    assert os.path.exists(f"{graph_base}/_skips/empty_refresh_8")
    assert store.read().isEmpty()


def test_hnsw_ingest_stream_consolidation(spark, tmp_path):
    """refresh_every consolidation: batch 2 rebuilds ONE sub-graph set
    over the merged view into full_v2 (marker-committed, immutable
    under skip-replay); serving = full_v2 ∪ per-batch dirs newer than
    it, and the consolidated beam's recall is ≥ the pre-consolidation
    beam on the same query."""
    import glob
    import os

    from __spark_entry__ import _lose_latest_commit
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i % 13), float(i % 7)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = hnsw_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, graph_base, checkpoint=ckpt, m=4, parts_per_batch=2,
            refresh_every=2,
        )
        assert q.awaitTermination(300)

    feed(0, 10)
    feed(10, 20)
    drain()  # batches 0,1 → per-batch sub-graphs only
    qvec = [1.0, 1.0]
    pre = {
        r["id"]
        for r in hnsw_serving_view(spark, graph_base)
        .candidates(qvec, ef_search=50).distinct().collect()
    }
    feed(20, 30)  # batch 2 → CONSOLIDATION over the merged view
    drain()
    assert os.path.exists(f"{graph_base}/_versions/2")
    assert os.path.exists(f"{graph_base}/full_v2/parts/_SUCCESS")
    ix = hnsw_serving_view(spark, graph_base)
    post = {r["id"] for r in ix.candidates(qvec, ef_search=50).distinct().collect()}
    assert post and post <= set(range(30))
    # recall vs the exact top-5 must not degrade across consolidation
    import numpy as np

    def exact_topk(n, k=5):
        d = [(i, (i % 13 - 1.0) ** 2 + (i % 7 - 1.0) ** 2) for i in range(n)]
        return {i for i, _ in sorted(d, key=lambda t: (t[1], t[0]))[:k]}

    pre_recall = len(pre & exact_topk(20)) / 5
    post_recall = len(post & exact_topk(30)) / 5
    assert post_recall >= pre_recall
    # crash between consolidation commit and checkpoint commit → skip
    before = set(glob.glob(f"{graph_base}/full_v2/parts/*.parquet"))
    _lose_latest_commit(ckpt)
    feed(30, 40)  # batch 3 → per-batch dir newer than v2
    drain()  # batch 2 replays → skips (journal), full_v2 untouched
    after = set(glob.glob(f"{graph_base}/full_v2/parts/*.parquet"))
    assert before and before == after
    assert os.path.exists(f"{graph_base}/_skips/2")
    assert os.path.exists(f"{graph_base}/parts/batch=3/_SUCCESS")
    ix = hnsw_serving_view(spark, graph_base)
    final = {r["id"] for r in ix.candidates(qvec, ef_search=80).distinct().collect()}
    assert final & set(range(30, 40)), "batch-3 sub-graphs must join the view"
    assert final <= set(range(40))


def test_hnsw_ingest_stream_meta_mismatch_fails_fast(spark, tmp_path):
    """Restarting the stream with different m/metric against an existing
    graph must fail fast (ADVICE r11): new sub-graphs under the old meta
    would be walked with parameters they were not built with."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain(m):
        q = hnsw_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
            graph_base, checkpoint=ckpt, m=m,
        )
        assert q.awaitTermination(300)

    feed(0, 8)
    drain(m=8)
    feed(10, 18)
    with pytest.raises(Exception, match="recorded meta"):
        drain(m=4)


def test_hnsw_serving_view_names_torn_meta(spark, tmp_path):
    """The serving view's deliberate pre-read error distinguishes 'no
    committed batches yet' from 'batches committed but meta torn'
    (ADVICE r11) — an operator recovers differently from each."""
    import os
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")

    with pytest.raises(FileNotFoundError, match="not flushed a batch"):
        hnsw_serving_view(spark, graph_base)

    spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "id bigint, vector array<double>",
    ).repartition(1).write.mode("append").parquet(src)
    q = hnsw_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        graph_base, checkpoint=ckpt,
    )
    assert q.awaitTermination(300)
    os.remove(f"{graph_base}/meta.parquet/_SUCCESS")  # torn meta
    with pytest.raises(FileNotFoundError, match="missing or torn"):
        hnsw_serving_view(spark, graph_base)
    shutil.rmtree(f"{graph_base}/meta.parquet")
    with pytest.raises(FileNotFoundError, match="missing or torn"):
        hnsw_serving_view(spark, graph_base)


def test_live_cache_key_tracks_corpus_fingerprint(spark, tmp_path):
    """The per-session caches layered over the corpus-signature-gated
    stream artifacts key by the SAME fingerprint the scaffold validates
    (VERDICT r11): regenerating the fixture mid-session must rebuild the
    artifact AND drop the memoized serving view in one step — without
    the fingerprint in the key, the scaffold rebuilds but the cache
    keeps serving the stale view."""
    import os
    import shutil

    import __spark_entry__ as entry_mod

    sf_dir = str(tmp_path / "sfX")
    os.makedirs(sf_dir)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        f"{sf_dir}/embeddings.parquet",
    )
    art = entry_mod._art_dir(sf_dir)
    try:
        k1 = entry_mod._live_cache_key(spark, sf_dir, "embeddings")
        served1 = entry_mod._ivf_stream(spark, sf_dir)
        assert k1 in entry_mod._IVF_STREAM_CACHE
        with open(f"{art}/ivf_stream/corpus_sig.txt") as fh:
            sig1 = fh.read()
        # the regen: same bytes, fresh mtime — _corpus_sig must move
        st = os.stat(f"{sf_dir}/embeddings.parquet")
        os.utime(
            f"{sf_dir}/embeddings.parquet",
            ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000),
        )
        k2 = entry_mod._live_cache_key(spark, sf_dir, "embeddings")
        assert k2 != k1, "fingerprint did not move with the fixture"
        served2 = entry_mod._ivf_stream(spark, sf_dir)
        assert k2 in entry_mod._IVF_STREAM_CACHE
        with open(f"{art}/ivf_stream/corpus_sig.txt") as fh:
            sig2 = fh.read()
        assert sig2 != sig1, "scaffold did not rebuild on the regen"
        assert served2 is not served1, "stale serving view was reused"
    finally:
        shutil.rmtree(art, ignore_errors=True)
        for cache in (entry_mod._IVF_STREAM_CACHE,):
            for k in [k for k in cache if k[1] == sf_dir]:
                del cache[k]
        entry_mod._STREAM_ART_BUILT.difference_update(
            {k for k in entry_mod._STREAM_ART_BUILT if k[1] == sf_dir}
        )


def test_concurrent_reader_loud_fail_or_consistent_during_drain(spark, tmp_path):
    """REAL concurrency (the Go ``-race`` suite's analogue,
    ``Makefile:21-24``) — everything else in this suite reconstructs
    interleavings deterministically; this test actually races a reader
    THREAD against a live drain + between-drain compactions and pins
    the store-wide contract (SCALE.md): every read either serves a
    CONSISTENT state — no invented rows, no duplicate ids, nothing lost
    from fully-drained batches — or fails LOUDLY with a
    reread-and-recover error. Never a wrong answer, never a silent
    shrink. Results are intentionally not asserted beyond that: the
    class of bug this hunts is listing/cache races inside Spark itself,
    which determinism can't provoke."""
    import threading

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")
    n_per, n_files = 50, 8
    all_ids = set(range(n_per * n_files))
    committed = [0]  # ids fully drained — monotone floor for readers
    done = [False]
    failures: list[str] = []
    n_ok = [0, 0]  # successful store reads, successful serving reads
    # the documented loud-fail modes: a swap/overwrite raced mid-read
    # (reread recovers), or the view asked before the boot commit
    allowed = (
        "FILE_NOT_EXIST", "FileNotFound", "FAILED_READ_FILE",
        "does not exist", "Unable to infer schema", "PATH_NOT_FOUND",
        "no committed version", "no segments yet",
    )

    def reader() -> None:
        while not done[0]:
            floor = committed[0]
            try:
                ids = [r["id"] for r in store.read().select("id").collect()]
                if not (
                    set(ids) <= all_ids
                    and len(ids) == len(set(ids))
                    and len(ids) >= floor
                ):
                    failures.append(
                        f"store read inconsistent: n={len(ids)} "
                        f"uniq={len(set(ids))} floor={floor}"
                    )
                    return
                n_ok[0] += 1
            except Exception as ex:  # noqa: BLE001 — classifying is the test
                if not any(p in str(ex) for p in allowed):
                    failures.append(f"store read failed NON-loudly: {ex}")
                    return
            floor = committed[0]
            try:
                _, layout = ivf_serving_view(spark, index_base)
                ids = [r["id"] for r in layout.select("id").collect()]
                if not (
                    set(ids) <= all_ids
                    and len(ids) == len(set(ids))
                    and len(ids) >= floor
                ):
                    failures.append(
                        f"serving view inconsistent: n={len(ids)} "
                        f"uniq={len(set(ids))} floor={floor}"
                    )
                    return
                n_ok[1] += 1
            except Exception as ex:  # noqa: BLE001
                if not any(p in str(ex) for p in allowed):
                    failures.append(f"serving view failed NON-loudly: {ex}")
                    return

    def feed(i):
        spark.createDataFrame(
            [(j, [float(j % 17), float(j % 5)]) for j in range(i * n_per, (i + 1) * n_per)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = ivf_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, refresh_every=3,
        )
        assert q.awaitTermination(300)

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for phase in range(4):
            feed(2 * phase)
            feed(2 * phase + 1)
            drain()  # reader races the per-batch tail/refresh writes
            committed[0] = (2 * phase + 2) * n_per
            if phase % 2 == 1:
                # the two-rename swap window the race contract covers
                store.compact()
    finally:
        done[0] = True
        t.join(timeout=120)
    assert not failures, failures
    assert n_ok[0] > 0 and n_ok[1] > 0, (
        f"reader never completed a read (store={n_ok[0]}, "
        f"serving={n_ok[1]}) — the race was vacuous"
    )
    # quiesced: the final reads serve the exact corpus
    assert {r["id"] for r in store.read().select("id").collect()} == all_ids
    _, layout = ivf_serving_view(spark, index_base)
    assert {r["id"] for r in layout.select("id").collect()} == all_ids


def test_ivf_serving_view_torn_deletes_fail_loud(spark, tmp_path):
    """A torn ``_deletes`` partition must fail the CRUD serving view
    LOUDLY (review r12): excluding a torn TAIL serves an older
    consistent state, but excluding torn DELETES while the same batch's
    tail is committed RESURRECTS deleted rows — a state that never
    existed. The window is real: the crash-replay rewrites
    ``_deletes/batch=N`` (``_SUCCESS`` briefly absent) while the
    original run's tail is still committed."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    feed([(i, [float(i), 0.0], None) for i in range(8)])
    feed(
        [(i, [float(i), 0.0], None) for i in range(10, 14)]
        + [(5, None, "delete")]
    )
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        index_base, checkpoint=ckpt, nlist=2, op_col="op",
    )
    assert q.awaitTermination(300)
    _, layout = ivf_serving_view(spark, index_base)  # healthy: serves
    assert 5 not in {r["id"] for r in layout.select("id").collect()}
    os.remove(f"{index_base}/_deletes/batch=1/_SUCCESS")  # the torn window
    with pytest.raises(FileNotFoundError, match="resurrect"):
        ivf_serving_view(spark, index_base)


def test_hnsw_ingest_stream_empty_batch_runs_scheduled_consolidation(
    spark, tmp_path
):
    """An empty trigger landing ON a scheduled consolidation still runs
    it (review r12 — the ADVICE-r11 empty-refresh rule applied to the
    graph engine): skipping would let per-batch sub-graph dirs keep
    accumulating past the refresh_every bound with no signal."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i % 11), float(i % 3)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    feed(0, 10)
    feed(10, 20)
    feed(20, 20)  # batch 2: EMPTY file on the consolidation schedule
    q = hnsw_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        graph_base, checkpoint=ckpt, m=4, parts_per_batch=2,
        refresh_every=2,
    )
    assert q.awaitTermination(300)
    assert os.path.exists(f"{graph_base}/_versions/2"), (
        "the empty trigger's scheduled consolidation was skipped"
    )
    ix = hnsw_serving_view(spark, graph_base)
    beam = {r["id"] for r in ix.candidates([1.0, 1.0], ef_search=50).distinct().collect()}
    assert beam and beam <= set(range(20))


def test_gc_index_versions_removes_only_superseded_state(spark, tmp_path):
    """Out-of-band GC (r12): dead state — older full_v dirs, tails and
    delete markers at-or-below the committed version — is removed;
    LIVE state (newer tails/markers), the version markers, and the
    served corpus are untouched, and the stream resumes cleanly on the
    same checkpoint afterwards."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import (
        gc_index_versions,
        ivf_ingest_stream,
        ivf_serving_view,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = ivf_ingest_stream(
            spark.readStream.schema(
                "id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2,
            refresh_every=2, op_col="op",
        )
        assert q.awaitTermination(300)

    feed([(i, [float(i), 0.0], None) for i in range(8)])       # b0 → v0
    feed([(i, [float(i), 0.0], None) for i in range(10, 14)])  # b1 tail
    feed([(i, [float(i), 0.0], None) for i in range(20, 24)])  # b2 → v2
    feed(  # b3: tail + a LIVE delete marker (> v2, must survive GC)
        [(i, [float(i), 0.0], None) for i in range(30, 34)]
        + [(3, None, "delete")]
    )
    drain()
    before = {
        (r["id"], tuple(r["vector"]))
        for r in ivf_serving_view(spark, index_base)[1].collect()
    }
    removed = gc_index_versions(spark, index_base)
    names = {os.path.basename(p) for p in removed}
    assert names == {"full_v0", "batch=1"}, removed  # superseded only
    assert os.path.exists(f"{index_base}/_versions/0")  # markers stay
    assert os.path.exists(f"{index_base}/tail/batch=3")  # live tail stays
    assert os.path.exists(f"{index_base}/_deletes/batch=3")
    after = {
        (r["id"], tuple(r["vector"]))
        for r in ivf_serving_view(spark, index_base)[1].collect()
    }
    assert after == before and any(i == 30 for i, _ in after)
    assert not any(i == 3 for i, _ in after)  # live delete still applied
    feed([(i, [float(i), 0.0], None) for i in range(40, 44)])  # b4 → v4
    drain()  # resume on the same checkpoint post-GC
    got = {r["id"] for r in ivf_serving_view(spark, index_base)[1].collect()}
    assert got == (set(range(8)) | set(range(10, 14)) | set(range(20, 24))
                   | set(range(30, 34)) | set(range(40, 44))) - {3}


def test_ivf_serving_view_deletes_without_sibling_tail_fail_loud(
    spark, tmp_path
):
    """The opposite crash window from the torn-deletes case (review r12
    pass 2): the marker partition commits BEFORE its batch's tail, so a
    crash in between leaves committed deletes whose sibling upserts
    never landed — serving would apply the batch's deletes without its
    upserts, a state no batch boundary ever held. Markers record
    with_tail; the view fails loudly until the replay lands the tail."""
    import shutil

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    feed([(i, [float(i), 0.0], None) for i in range(8)])
    feed(  # batch 1: upserts AND a delete — with_tail=True markers
        [(i, [float(i), 0.0], None) for i in range(10, 14)]
        + [(5, None, "delete")]
    )
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        index_base, checkpoint=ckpt, nlist=2, op_col="op",
    )
    assert q.awaitTermination(300)
    ivf_serving_view(spark, index_base)  # healthy
    shutil.rmtree(f"{index_base}/tail/batch=1")  # crash-before-tail state
    with pytest.raises(FileNotFoundError, match="sibling upserts"):
        ivf_serving_view(spark, index_base)


def test_ivf_ingest_stream_rejects_duplicate_upsert_ids_in_batch(
    spark, tmp_path
):
    """Two upserts of the same id in ONE micro-batch have no defined
    winner (an unordered set; the store's __seq tiebreak is
    partition-arbitrary, so the serving view could disagree with
    store.read()) — the index engine fails the batch fast (review r12
    pass 2)."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(7, [1.0, 0.0], None), (7, [2.0, 0.0], None), (8, [3.0, 0.0], None)],
        "id bigint, vector array<double>, op string",
    ).repartition(1).write.mode("append").parquet(src)
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        str(tmp_path / "index"), checkpoint=ckpt, nlist=2, op_col="op",
    )
    with pytest.raises(Exception, match="duplicate upsert"):
        assert q.awaitTermination(300)


def test_ivf_ingest_stream_scheduled_batch_skips_delete_marker(spark, tmp_path):
    """A scheduled refresh batch carrying deletes does NOT write a
    _deletes marker (review r12 pass 3): its retrain bakes the deletes,
    and a with_tail=True marker for a tail that never lands would
    hard-fail every serving read for the whole retrain window."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    feed([(i, [float(i), 0.0], None) for i in range(8)])        # b0 → v0
    feed([(i, [float(i), 0.0], None) for i in range(10, 14)])   # b1 tail
    feed(  # b2 = scheduled REFRESH with upserts AND deletes
        [(i, [float(i), 0.0], None) for i in range(20, 24)]
        + [(5, None, "delete")]
    )
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        index_base, checkpoint=ckpt, nlist=2, refresh_every=2, op_col="op",
    )
    assert q.awaitTermination(300)
    assert os.path.exists(f"{index_base}/_versions/2")
    assert not os.path.exists(f"{index_base}/_deletes/batch=2"), (
        "scheduled batch wrote a delete marker its retrain already baked"
    )
    got = {r["id"] for r in ivf_serving_view(spark, index_base)[1].collect()}
    assert got == (set(range(8)) | set(range(10, 14)) | set(range(20, 24))) - {5}


def test_doc_ingest_stream_three_views_one_feed(spark, tmp_path):
    """The unified document stream (r13): ONE feed (id, vector, text,
    lang, op) drives one store + the IVF layout; the three serving
    views (vector / text / metadata) derive from the same committed
    state — an upsert changes BOTH its vector and text atomically, a
    delete vanishes from all three, and the index layout never carries
    the non-vector modalities."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import doc_ingest_stream, doc_serving_views

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")
    schema = "id bigint, vector array<double>, text string, lang string, op string"

    def feed(rows):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        q = doc_ingest_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, refresh_every=2,
            op_col="op",
        )
        assert q.awaitTermination(300)

    feed([  # batch 0 → boot v0
        (i, [float(i), 0.0], f"alpha doc {i}", "en" if i % 2 else "fr", None)
        for i in range(8)
    ])
    feed(  # batch 1: upsert doc 2 (vector AND text AND lang move
        # together — 'de' is absent from the source, so a stale
        # metadata read cannot pass), delete doc 5, fresh docs
        [(2, [100.0, 100.0], "beta doc 2 v2", "de", None),
         (10, [10.0, 0.0], "alpha doc 10", "en", None),
         (5, None, None, None, "delete")]
    )
    drain()
    ivf, layout, bm, docs = doc_serving_views(
        spark, store, index_base, normalize=False
    )
    # vector view: doc 5 gone, doc 2 at its new vector, layout projects
    # to (id, vector, cluster_id) — no text/lang duplication
    got = {r["id"]: r["vector"] for r in layout.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 6, 7, 10}
    assert got[2] == [100.0, 100.0]
    assert set(layout.columns) == {"id", "vector", "cluster_id"}
    # text view: 'beta' only matches the upserted doc; deleted doc 5
    # scores nowhere
    tres = {r["id"] for r in bm.score("beta", k=5).collect()}
    assert tres == {2}
    assert not {r["id"] for r in bm.score("alpha", k=20).collect()} & {5}
    # metadata view: the upsert moved doc 2 to lang=de atomically —
    # 'de' exists nowhere in the source feed, so only the NEW row
    # satisfies this (a stale pre-upsert 'fr' would fail)
    langs = {r["id"]: r["lang"] for r in docs.collect()}
    assert langs[2] == "de" and 5 not in langs
    # one more batch: the scheduled refresh (batch 2) bakes it all in
    feed([(11, [11.0, 0.0], "alpha doc 11", "en", None)])
    drain()
    ivf2, layout2, bm2, docs2 = doc_serving_views(
        spark, store, index_base, normalize=False
    )
    assert {r["id"] for r in layout2.collect()} == set(got) | {11}
    assert {r["id"] for r in bm2.score("beta", k=5).collect()} == {2}


def test_split_ops_rejects_null_ids(spark, tmp_path):
    """A NULL id is malformed in every op — an upsert would land an
    unaddressable document, a delete matches nothing — and must fail
    the micro-batch with an accurate message, not a misleading
    duplicate-id one (review r12 pass 3)."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(None, [1.0, 0.0], None), (8, [3.0, 0.0], None)],
        "id bigint, vector array<double>, op string",
    ).repartition(1).write.mode("append").parquet(src)
    q = ivf_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        str(tmp_path / "index"), checkpoint=ckpt, nlist=2, op_col="op",
    )
    with pytest.raises(Exception, match="NULL id"):
        assert q.awaitTermination(300)


def test_split_ops_rejects_null_vector_upsert(spark, tmp_path):
    """A NULL-vector UPSERT must fail the micro-batch loudly (ADVICE
    r12): it would land in the store as the id's newest version while
    assign_clusters silently drops it — the serving view keeps the
    stale pre-upsert vector, store.read() serves the NULL row, and the
    next retrain loses the id from the layout while it stays live in
    the store. Delete markers legitimately carry NULL vectors and must
    still pass."""
    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        return ivf_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>, op string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2, op_col="op",
        )

    # NULL-vector DELETE markers are legal — boot + a marker-carrying
    # tail batch drain clean
    feed([(i, [float(i), 0.0], None) for i in range(8)])
    feed([(10, [10.0, 0.0], None), (5, None, "delete")])
    assert drain().awaitTermination(300)
    assert {r["id"] for r in ivf_serving_view(spark, index_base)[1].collect()} == (
        set(range(8)) | {10}
    ) - {5}
    # a NULL-vector UPSERT fails the whole micro-batch loudly
    feed([(3, None, None), (11, [11.0, 0.0], None)])
    q = drain()
    with pytest.raises(Exception, match="NULL-payload upsert|NULL vector"):
        assert q.awaitTermination(300)
    # nothing from the failed batch landed: id 11 absent, id 3 original
    got = {r["id"]: r["vector"] for r in store.read().collect()}
    assert 11 not in got and got[3] == [3.0, 0.0]


def test_hnsw_consolidation_rewrites_torn_meta(spark, tmp_path):
    """meta.parquet is only (re)written on a data-carrying batch — a
    mid-meta-write crash followed by empty triggers and scheduled
    consolidations would leave serving down indefinitely even though
    committed graph state exists (ADVICE r12). The consolidation branch
    now rewrites a torn meta (m/metric are in hand)."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import hnsw_ingest_stream, hnsw_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="id")

    def feed(rows):
        spark.createDataFrame(
            rows, "id bigint, vector array<double>"
        ).repartition(1).write.mode("append").parquet(src)

    def drain():
        q = hnsw_ingest_stream(
            spark.readStream.schema("id bigint, vector array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, graph_base, checkpoint=ckpt, m=4, parts_per_batch=2,
            refresh_every=2,
        )
        assert q.awaitTermination(300)

    feed([(i, [float(i % 13), float(i % 7)]) for i in range(10)])
    feed([(i, [float(i % 13), float(i % 7)]) for i in range(10, 20)])
    drain()  # b0 parts, b1 parts
    # simulate the mid-meta-write crash: torn meta (no _SUCCESS)
    os.remove(f"{graph_base}/meta.parquet/_SUCCESS")
    with pytest.raises(FileNotFoundError, match="meta.parquet is missing"):
        hnsw_serving_view(spark, graph_base)
    # an EMPTY scheduled-consolidation trigger must heal it
    feed([])  # empty part file → empty batch 2 = the consolidation
    drain()
    assert os.path.exists(f"{graph_base}/meta.parquet/_SUCCESS")
    assert os.path.exists(f"{graph_base}/_versions/2")
    ix = hnsw_serving_view(spark, graph_base)
    beam = {r["id"] for r in ix.candidates([1.0, 1.0], ef_search=40).collect()}
    assert beam and beam <= set(range(20))


def test_gc_index_versions_default_covers_hnsw_parts(spark, tmp_path):
    """gc's default subdirs covers the graph engine too (review r12
    pass 3): per-batch parts dirs at-or-below the committed
    consolidation are removed, newer ones and the consolidation stay,
    and the serving beam is unchanged."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import (
        gc_index_versions,
        hnsw_ingest_stream,
        hnsw_serving_view,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    graph_base = str(tmp_path / "graphs")

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, [float(i % 13), float(i % 7)]) for i in range(lo, hi)],
            "id bigint, vector array<double>",
        ).repartition(1).write.mode("append").parquet(src)

    for b in range(4):  # b0,b1 parts; b2 consolidation → v2; b3 parts
        feed(b * 10, b * 10 + 10)
    q = hnsw_ingest_stream(
        spark.readStream.schema("id bigint, vector array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        DocumentStore(spark, str(tmp_path / "store"), id_col="id"),
        graph_base, checkpoint=ckpt, m=4, parts_per_batch=2, refresh_every=2,
    )
    assert q.awaitTermination(300)
    before = {
        r["id"]
        for r in hnsw_serving_view(spark, graph_base)
        .candidates([1.0, 1.0], ef_search=80).distinct().collect()
    }
    removed = {os.path.basename(p) for p in gc_index_versions(spark, graph_base)}
    assert removed == {"batch=0", "batch=1"}, removed
    assert os.path.exists(f"{graph_base}/full_v2/parts/_SUCCESS")
    assert os.path.exists(f"{graph_base}/parts/batch=3/_SUCCESS")
    after = {
        r["id"]
        for r in hnsw_serving_view(spark, graph_base)
        .candidates([1.0, 1.0], ef_search=80).distinct().collect()
    }
    assert after == before


def test_ivf_crud_stream_with_custom_id_col(spark, tmp_path):
    """assign_clusters PRESERVES id_col (it is not canonicalized), so
    the CRUD serving view must window/join on the stream's actual id
    column, recorded in _crud_meta (review r12 pass 5). End-to-end with
    id_col='doc_id': upsert shadowing, a live delete, and a restart
    with a different id_col failing fast."""
    import os

    from comet_spark.storage.store import DocumentStore
    from comet_spark.streaming.ingest import ivf_ingest_stream, ivf_serving_view

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    index_base = str(tmp_path / "index")
    store = DocumentStore(spark, str(tmp_path / "store"), id_col="doc_id")

    def feed(rows):
        spark.createDataFrame(
            rows, "doc_id bigint, vector array<double>, op string"
        ).repartition(1).write.mode("append").parquet(src)

    def drain(id_col="doc_id"):
        q = ivf_ingest_stream(
            spark.readStream.schema(
                "doc_id bigint, vector array<double>, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            store, index_base, checkpoint=ckpt, nlist=2,
            op_col="op", id_col=id_col,
        )
        assert q.awaitTermination(300)

    feed([(i, [float(i), 0.0], None) for i in range(8)])
    feed(  # tail: upsert doc 2, delete doc 5, fresh docs
        [(2, [100.0, 100.0], None)]
        + [(i, [float(i), 0.0], None) for i in range(10, 13)]
        + [(5, None, "delete")]
    )
    drain()
    assert os.path.exists(f"{index_base}/_crud_meta")
    _, layout = ivf_serving_view(spark, index_base)
    got = {r["doc_id"]: r["vector"] for r in layout.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 6, 7, 10, 11, 12}
    assert got[2] == [100.0, 100.0]
    feed([(20, [20.0, 0.0], None)])
    with pytest.raises(Exception, match="recorded"):
        drain(id_col="id")  # restart with a different id_col fails fast
