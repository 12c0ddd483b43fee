"""Hand-checkable fixture tests (FIXTURES.md §2/§7, mirroring the
reference's own unit fixtures in flat_index_search_test.go:10-80,
limiter.go tests, fusion tests)."""

import pyspark.sql.functions as F
import pytest

from comet_spark.operators.autocut import autocut
from comet_spark.operators.fusion import fuse_max, fuse_min, rrf, weighted_sum
from comet_spark.operators.knn import knn, knn_aggregate
from comet_spark.operators.metadata import (
    Between, Eq, Exists, Field, Gt, In, Ne, Not, NotExists, NotIn, NumField, Where,
)
from tests.conftest import rename_crash_points


@pytest.fixture(scope="module")
def unit_docs(spark):
    # canonical tiny case: unit basis vectors + {1,1,0}
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]), (4, [1.0, 1.0, 0.0])]
    return spark.createDataFrame(rows, "id bigint, vector array<double>")


def _q(spark, vec):
    return spark.createDataFrame([(0, vec)], "qid bigint, qvec array<double>")


def test_knn_exact_order(spark, unit_docs):
    got = knn(unit_docs, _q(spark, [1.0, 0.0, 0.0]), k=4, metric="l2").collect()
    assert [r["id"] for r in got] == [1, 4, 2, 3]
    assert got[0]["score"] == 0.0
    assert got[1]["score"] == 1.0  # |(1,1,0)-(1,0,0)| = 1


def test_knn_threshold_colinear(spark):
    # colinear points with known distances 0/1/3/9 (flat_index_search_test.go:50-80)
    rows = [(1, [1.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0]), (3, [4.0, 0.0, 0.0]), (4, [10.0, 0.0, 0.0])]
    docs = spark.createDataFrame(rows, "id bigint, vector array<double>")
    got = knn(docs, _q(spark, [1.0, 0.0, 0.0]), k=0, metric="l2", threshold=3.0).collect()
    assert [(r["id"], r["score"]) for r in got] == [(1, 0.0), (2, 1.0), (3, 3.0)]


def test_knn_multiquery_sum_mean(spark, unit_docs):
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "qid bigint, qvec array<double>"
    )
    per_q = knn(unit_docs, qs, k=4, metric="l2sq")
    s = {r["id"]: r["score"] for r in knn_aggregate(per_q, k=4, agg="sum").collect()}
    # doc4 (1,1,0): dist² to q0 = 1, to q1 = 1 → sum 2; doc1: 0+2=2; doc2: 2+0=2; doc3: 2+2=4
    assert s == {1: 2.0, 2: 2.0, 3: 4.0, 4: 2.0}
    m = {r["id"]: r["score"] for r in knn_aggregate(per_q, k=4, agg="mean").collect()}
    assert m[3] == 2.0 and m[4] == 1.0


def test_autocut_elbow(spark):
    # obvious elbow: [0.1, 0.12, 0.13, 0.9, 0.95] cutoff=1 → keep 3
    rows = [(i + 1, s) for i, s in enumerate([0.1, 0.12, 0.13, 0.9, 0.95])]
    df = spark.createDataFrame(rows, "id bigint, score double")
    got = autocut(df, cutoff=1, ascending=True).collect()
    assert [r["id"] for r in got] == [1, 2, 3]
    # cutoff=-1 disables
    assert autocut(df, cutoff=-1, ascending=True).count() == 5


def _scores(spark, pairs):
    return spark.createDataFrame(pairs, "id bigint, score double")


def test_fusion_weighted_and_max_min(spark):
    vec = _scores(spark, [(1, 0.1), (2, 0.5)])
    txt = _scores(spark, [(2, 2.0), (3, 1.0)])
    ws = {r["id"]: r["score"] for r in weighted_sum(vec, txt, vector_weight=1.0, text_weight=0.5).collect()}
    assert ws == {1: 0.1, 2: 1.5, 3: 0.5}
    mx = {r["id"]: r["score"] for r in fuse_max(vec, txt).collect()}
    assert mx == {1: 0.1, 2: 2.0, 3: 1.0}
    mn = fuse_min(vec, txt).collect()  # intersection only
    assert [(r["id"], r["score"]) for r in mn] == [(2, 0.5)]


def test_rrf_ranks(spark):
    vec = _scores(spark, [(1, 0.1), (2, 0.5)])   # ranks: 1→0, 2→1 (asc)
    txt = _scores(spark, [(2, 2.0), (3, 1.0)])   # ranks: 2→0, 3→1 (desc)
    got = {r["id"]: r["score"] for r in rrf(vec, txt).collect()}
    assert got[1] == round(1 / 60, 6)
    assert got[2] == round(1 / 61 + 1 / 60, 6)
    assert got[3] == round(1 / 61, 6)


@pytest.fixture(scope="module")
def meta_docs(spark):
    rows = [
        (1, "electronics", 999.994, None),
        (2, "electronics", 999.996, "x"),
        (3, "books", None, "y"),
        (4, None, 500.0, None),
    ]
    return spark.createDataFrame(rows, "id bigint, category string, price double, opt string")


def _ids(df, pred):
    return sorted(r["id"] for r in df.filter(pred.expr() if hasattr(pred, "expr") else pred).collect())


def test_q100_edges(meta_docs):
    # Go int64(v*100) TRUNCATES: 999.994 and 999.996 both store 99999;
    # 999.99*100 is 99999.00000000001 in IEEE double so it also hits 99999
    # (metadata_index.go:142-143 + FIXTURES.md §4)
    assert _ids(meta_docs, Eq(NumField("price"), 999.994)) == [1, 2]
    assert _ids(meta_docs, Eq(NumField("price"), 999.99)) == [1, 2]
    assert _ids(meta_docs, Eq(NumField("price"), 1000.0)) == []


def test_ne_null_semantics(meta_docs):
    # categorical Ne: missing-field docs MATCH
    assert _ids(meta_docs, Ne(Field("category"), "books")) == [1, 2, 4]
    # numeric Ne: missing-field docs do NOT match
    assert _ids(meta_docs, Ne(NumField("price"), 500.0)) == [1, 2]


def test_in_notin_exists(meta_docs):
    assert _ids(meta_docs, In(Field("category"), ("books",))) == [3]
    assert _ids(meta_docs, NotIn(Field("category"), ("books",))) == [1, 2, 4]
    assert _ids(meta_docs, Exists(Field("opt"))) == [2, 3]
    assert _ids(meta_docs, NotExists(Field("opt"))) == [1, 4]


def test_not_inversion_table(meta_docs):
    assert _ids(meta_docs, Not(Eq(Field("category"), "books"))) == _ids(
        meta_docs, Ne(Field("category"), "books")
    )
    assert _ids(meta_docs, Not(Gt(NumField("price"), 600.0))) == [4]  # → Lte
    assert _ids(meta_docs, Not(Between(NumField("price"), 600.0, 1000.0))) == [4]


def test_filter_groups(meta_docs):
    # both prices truncate to 99999 == q100(999.99), so Gt excludes them
    pred = Where(Eq(Field("category"), "electronics"), Gt(NumField("price"), 999.99)).Or(
        Eq(Field("opt"), "y")
    )
    assert _ids(meta_docs, pred) == [3]
    pred2 = Where(Eq(Field("category"), "electronics"), Gt(NumField("price"), 999.5)).Or(
        Eq(Field("opt"), "y")
    )
    assert _ids(meta_docs, pred2) == [1, 2, 3]


def test_zero_vector_cosine_excluded(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    docs = spark.createDataFrame(rows, "id bigint, vector array<double>")
    got = knn(docs, _q(spark, [1.0, 0.0]), k=10, metric="cosine").collect()
    # zero vector (id 2) must not appear (reference rejects zero vectors)
    assert [r["id"] for r in got] == [1, 3]


def test_where_or_logic_within_group(spark, meta_docs):
    pred = Where(Eq(Field("category"), "books"), Eq(Field("opt"), "x"), logic="or")
    got = sorted(r["id"] for r in meta_docs.filter(pred.expr()).collect())
    assert got == [2, 3]


def test_asof_join_hand_fixture(spark):
    from comet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "e1"), (1, 10, "e2"), (1, 2, "e0"), (2, 7, "e3")],
        "k bigint, t bigint, ev string",
    )
    right = spark.createDataFrame(
        [(1, 3, "r3"), (1, 10, "r10"), (2, 9, "r9")], "k bigint, t bigint, val string"
    )
    got = {
        r["ev"]: r["val"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t", right_cols=["val"]
        ).collect()
    }
    # e0@2: no right <= 2 → NULL; e1@5 → r3; e2@10 → r10 (inclusive tie);
    # e3@7 (k=2): r9 is later → NULL
    assert got == {"e0": None, "e1": "r3", "e2": "r10", "e3": None}


def test_text_search_empty_query_no_results(spark):
    from comet_spark.plans.builder import Corpus

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "id bigint, text string"
    )
    got = Corpus(docs).text_search().with_query("!!! ???").with_k(5).execute().collect()
    assert got == []  # no tokens → no matches (reference returns nil)


def test_more_like_this_multi_node(spark, unit_docs):
    from comet_spark.plans.builder import Corpus

    res = (
        Corpus(unit_docs)
        .vector_search()
        .with_node(1, 2)  # two stored vectors as queries, sum-aggregated
        .with_k(4)
        .execute()
        .collect()
    )
    got = {r["id"]: r["score"] for r in res}
    # per-query L2 top-k then sum: doc4 (1,1,0): 1.0 + 1.0; doc1: 0 + √2
    assert got[4] == 2.0
    assert got[1] == got[2] == round(2**0.5, 6)
    assert got[3] == round(round(2**0.5, 6) * 2, 6)
    assert set(got) == {1, 2, 3, 4}


def test_normalize_unit_norm_and_zero_vector(spark):
    from comet_spark.functions.vector import norm, normalize, to_double_array

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id bigint, vector array<double>"
    )
    out = df.select(
        "id", normalize(to_double_array("vector")).alias("nv")
    ).withColumn("n", F.round(norm(F.col("nv")), 9))
    rows = {r["id"]: (r["nv"], r["n"]) for r in out.collect()}
    assert rows[1][1] == 1.0 and rows[1][0] == [0.6, 0.8]
    assert rows[2][0] is None  # zero vector → NULL (reference raises)


def test_cosine_invariant_to_write_time_normalization(spark, unit_docs):
    # reference normalizes at insert for cosine; distance must be the same
    # whether vectors are pre-normalized or raw
    from comet_spark.functions.vector import normalize, to_double_array

    q = _q(spark, [2.0, 1.0, 0.0])  # deliberately non-unit query
    raw = knn(unit_docs, q, k=4, metric="cosine").collect()
    normed = unit_docs.select(
        "id", normalize(to_double_array("vector")).alias("vector")
    )
    pre = knn(normed, q, k=4, metric="cosine").collect()
    assert [tuple(r) for r in pre] == [tuple(r) for r in raw]


def test_bm25_persist_roundtrip(spark, tmp_path):
    """Persisted BM25 index (plain + bucketed) scores identically to the
    in-memory build — the text-index A8 sink/source."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [(1, "spark joins tables fast"), (2, "spark streams data"),
         (3, "tables of data"), (4, "")],
        "id bigint, text string",
    )
    ix = BM25(docs)
    want = [tuple(r) for r in ix.score("spark tables", k=3).collect()]

    ix.write(str(tmp_path / "plain"))
    back = BM25.read(spark, str(tmp_path / "plain"))
    assert [tuple(r) for r in back.score("spark tables", k=3).collect()] == want

    ix.write(str(tmp_path / "bucketed"), buckets=4)
    bucketed = BM25.read(spark, str(tmp_path / "bucketed"), buckets=4)
    assert [tuple(r) for r in bucketed.score("spark tables", k=3).collect()] == want

    # cross-session persistence: the in-memory catalog forgets the table
    # (simulated by dropping it); read() must re-register the bucket spec
    # from the persisted meta — buckets need not even be passed
    from comet_spark.operators.bm25 import _postings_table_name

    spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(str(tmp_path / 'bucketed'))}")
    again = BM25.read(spark, str(tmp_path / "bucketed"))
    assert [tuple(r) for r in again.score("spark tables", k=3).collect()] == want
    plan = again.score("spark tables", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan


def test_bm25_append_matches_full_rebuild(spark, tmp_path):
    """Incremental index maintenance (J-family, text side): append only
    tokenizes the new batch, yet the reopened index — postings, df,
    stats, and final scores — is value-identical to a fresh build over
    the full corpus, on both the plain and the bucketed layout, across
    multiple appended segments, and with token-less docs in either
    half (they count toward N/avgdl but never match)."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    rows = [
        (1, "spark joins tables fast"), (2, "spark streams data"),
        (3, ""), (4, "tables of data and data"),
        (5, "fast spark scans"), (6, "joins of tables"),
        (7, ""), (8, "data data data tables"),
    ]
    full = spark.createDataFrame(rows, "id bigint, text string")
    base = full.filter(F.col("id") <= 4)
    mid = full.filter((F.col("id") > 4) & (F.col("id") <= 6))
    tail = full.filter(F.col("id") > 6)
    fresh = BM25(full)
    want_scores = [tuple(r) for r in fresh.score("spark tables data", k=0).collect()]
    want_posts = {tuple(r) for r in fresh.postings.collect()}
    want_df = {tuple(r) for r in fresh.df.collect()}
    want_stats = fresh.stats.first()

    for buckets in (0, 4):
        path = str(tmp_path / f"ix{buckets}")
        BM25(base).write(path, buckets=buckets)
        BM25.append(spark, path, mid)
        BM25.append(spark, path, tail)  # three segments total
        back = BM25.read(spark, path)
        assert {tuple(r) for r in back.postings.collect()} == want_posts
        assert {tuple(r) for r in back.df.collect()} == want_df
        got_stats = back.stats.first()
        assert (got_stats["n_docs"], got_stats["avgdl"]) == (
            want_stats["n_docs"], want_stats["avgdl"],
        )
        got = [tuple(r) for r in back.score("spark tables data", k=0).collect()]
        assert got == want_scores, buckets

    # bucket pruning survives appends AND a fresh-session reopen
    bpath = str(tmp_path / "ix4")
    spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(bpath)}")
    again = BM25.read(spark, bpath)
    assert [
        tuple(r) for r in again.score("spark tables data", k=0).collect()
    ] == want_scores
    plan = (
        again.score("spark", k=3)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan

    # the disjointness guard: re-appending an existing id raises
    import pytest

    with pytest.raises(ValueError, match="already in the index"):
        BM25.append(spark, bpath, full.filter(F.col("id") == 5))


@pytest.mark.parametrize("damage", ["corrupt", "missing"])
def test_bm25_append_rejects_corrupt_meta(spark, tmp_path, damage):
    """A damaged or missing ``meta`` fails the append before it writes,
    and fails the reopen too — read as "0 buckets", append would land
    bucket-less part files in the bucketed postings, which the tiered
    merge later rejects. ``write`` lands ``meta`` before ``stats``, so no
    committed index lacks it."""
    import glob
    import os
    import shutil

    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [(1, "spark joins tables"), (2, "spark streams data")],
        "id bigint, text string",
    )
    path = str(tmp_path / f"{damage}_meta")
    BM25(docs).write(path, buckets=4)
    if damage == "missing":
        shutil.rmtree(f"{path}/meta")
    else:
        for f in glob.glob(f"{path}/meta/*"):
            if f.endswith(".parquet"):
                with open(f, "wb") as fh:
                    fh.write(b"not a parquet file")
            elif f.endswith(".crc"):
                os.remove(f)
        for f in glob.glob(f"{path}/meta/.*.crc"):
            os.remove(f)

    def _postings():
        return {
            (os.path.basename(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/postings/*")
        }

    before = _postings()
    with pytest.raises(Exception):
        BM25.append(
            spark, path,
            spark.createDataFrame([(3, "fast spark scans")], "id bigint, text string"),
        )
    with pytest.raises(Exception):
        BM25.read(spark, path)
    assert _postings() == before


def test_bm25_index_writer_lock(spark, tmp_path):
    """The persisted index's write paths are single-writer, ENFORCED by
    the store's lock-marker discipline (reference storage lock,
    storage_provider.go:36-246): a concurrent write/append/compact fails
    fast on the marker instead of interleaving segment files and
    corrupting the doc_len/stats ledger; force_unlock clears a crashed
    writer's marker."""
    import pyspark.sql.functions as F
    import pytest

    from comet_spark.operators.bm25 import BM25
    from comet_spark.storage.store import StoreLockedError, _FS

    docs = spark.createDataFrame(
        [(1, "spark joins tables"), (2, "spark streams data")],
        "id bigint, text string",
    )
    path = str(tmp_path / "locked_ix")
    BM25(docs).write(path, buckets=4)
    # the lock releases after a successful write
    fs = _FS(spark, path)
    assert not fs.exists(f"{path}/_lock")

    # simulate a concurrent writer holding the marker
    assert fs.create_new(f"{path}/_lock")
    more = spark.createDataFrame([(3, "tables of data")], "id bigint, text string")
    with pytest.raises(StoreLockedError):
        BM25.append(spark, path, more)
    with pytest.raises(StoreLockedError):
        BM25.compact(spark, path)
    with pytest.raises(StoreLockedError):
        BM25(docs).write(path, buckets=4)

    BM25.force_unlock(spark, path)
    BM25.append(spark, path, more)
    assert BM25.read(spark, path).doc_len.count() == 3
    assert not fs.exists(f"{path}/_lock")


def test_bm25_compact_consolidates_segments(spark, tmp_path):
    """Postings-segment compaction (VERDICT r06 #1): build + append ×3 →
    compact. The compacted index must score value-identically, fold to
    ONE stats row with no df table on disk (``df`` derives from the
    postings), consolidate to one file per bucket, and keep the bucketed
    literal-term-pruned plan — all WITHOUT re-tokenizing the corpus."""
    import glob
    import os

    import pyspark.sql.functions as F
    import pytest

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    rows = [
        (1, "spark joins tables fast"), (2, "spark streams data"),
        (3, ""), (4, "tables of data and data"),
        (5, "fast spark scans"), (6, "joins of tables"),
        (7, ""), (8, "data data data tables"),
    ]
    full = spark.createDataFrame(rows, "id bigint, text string")
    fresh = BM25(full)
    want_scores = [tuple(r) for r in fresh.score("spark tables data", k=0).collect()]
    want_posts = {tuple(r) for r in fresh.postings.collect()}
    want_df = {tuple(r) for r in fresh.df.collect()}
    want_stats = fresh.stats.first()

    for buckets in (0, 4):
        path = str(tmp_path / f"cix{buckets}")
        BM25(full.filter(F.col("id") <= 2)).write(path, buckets=buckets)
        for lo, hi in ((2, 4), (4, 6), (6, 8)):  # append x3
            BM25.append(
                spark, path, full.filter((F.col("id") > lo) & (F.col("id") <= hi))
            )
        assert spark.read.parquet(f"{path}/stats").count() == 4
        BM25.compact(spark, path)

        # single-segment shape again: one stats row, no stored df
        assert spark.read.parquet(f"{path}/stats").count() == 1
        assert not os.path.exists(f"{path}/df")

        back = BM25.read(spark, path)
        assert {tuple(r) for r in back.postings.collect()} == want_posts
        assert {tuple(r) for r in back.df.collect()} == want_df
        got_stats = back.stats.first()
        assert (got_stats["n_docs"], got_stats["avgdl"], got_stats["total_dl"]) == (
            want_stats["n_docs"], want_stats["avgdl"], want_stats["total_dl"],
        )
        got = [tuple(r) for r in back.score("spark tables data", k=0).collect()]
        assert got == want_scores, buckets

        if buckets:
            # one consolidated file per (non-empty) bucket, and the plan
            # keeps the bucketed literal-term pruning across a reopen
            files = [
                f for f in glob.glob(f"{path}/postings/*")
                if not f.endswith("_SUCCESS") and ".crc" not in f
            ]
            assert len(files) <= buckets, files
            spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
            again = BM25.read(spark, path)
            plan = (
                again.score("spark", k=3)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
            # and the index still appends after compaction
            BM25.append(
                spark, path,
                spark.createDataFrame([(9, "spark again")], "id bigint, text string"),
            )
            assert BM25.read(spark, path).doc_len.count() == 9

    # a torn append (doc_len segment without its stats commit record)
    # is refused — compact must not bake the tear into a clean shape
    torn = str(tmp_path / "torn")
    BM25(full.filter(F.col("id") <= 4)).write(torn)
    spark.createDataFrame([(99, 3)], "id bigint, dl bigint").write.mode(
        "append"
    ).parquet(f"{torn}/doc_len")
    with pytest.raises(ValueError, match="ledger"):
        BM25.compact(spark, torn)


def test_bm25_delete_matches_rebuild_without_docs(spark, tmp_path):
    """Soft delete (B15's text twin, VERDICT r07 #5): after BM25.delete
    the reopened index scores byte-identically to a fresh build WITHOUT
    the deleted docs — results, df per query term, and n_docs/avgdl all
    corrected. The vector survives a tiered compact and is applied
    physically (rows dropped, df/stats recomputed, vector cleared,
    ledger consistent) by the full compact."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from comet_spark.operators.bm25 import BM25, DuplicateIdsError

    rows = [
        (i, f"spark table join {'fast ' * (i % 3)}data row {i}")
        for i in range(24)
    ] + [(24, ""), (25, "")]  # token-less docs count toward N/avgdl
    full = spark.createDataFrame(rows, "id bigint, text string")
    deleted = [0, 7, 14, 21, 24]  # includes a token-less doc
    survivors = full.filter(~F.col("id").isin(deleted))
    want = [
        tuple(r) for r in BM25(survivors).score("spark fast data", k=0).collect()
    ]
    want_stats = BM25(survivors).stats.first()

    for buckets in (0, 4):
        path = str(tmp_path / f"dix{buckets}")
        BM25(full.filter(F.col("id") % 3 == 0)).write(path, buckets=buckets)
        for m in (1, 2):
            BM25.append(spark, path, full.filter(F.col("id") % 3 == m))
        # recorded once; re-deletes and never-indexed ids are skipped
        assert BM25.delete(spark, path, deleted) == len(deleted)
        assert BM25.delete(spark, path, deleted) == 0
        assert BM25.delete(spark, path, [999]) == 0

        back = BM25.read(spark, path)
        got = [tuple(r) for r in back.score("spark fast data", k=0).collect()]
        assert got == want, buckets
        st = back.stats.first()
        assert (st["n_docs"], st["avgdl"], st["total_dl"]) == (
            want_stats["n_docs"], want_stats["avgdl"], want_stats["total_dl"],
        ), buckets

        # tiered compact RETAINS the vector (like the store's tiered
        # merge retains base delete files); scoring is unchanged
        BM25.compact(spark, path, tiered=True)
        assert os.path.exists(f"{path}/deletes")
        got = [
            tuple(r)
            for r in BM25.read(spark, path).score("spark fast data", k=0).collect()
        ]
        assert got == want, buckets

        # a deleted id stays in the ledger until the hard delete — the
        # duplicate-id probe still fires
        with pytest.raises(DuplicateIdsError):
            BM25.append(
                spark, path,
                spark.createDataFrame([(7, "again")], "id bigint, text string"),
            )

        # full compact = the hard-delete rewrite: rows dropped, df/stats
        # recomputed from survivors, vector cleared, scores unchanged
        BM25.compact(spark, path)
        assert not os.path.exists(f"{path}/deletes")
        assert spark.read.parquet(f"{path}/doc_len").count() == 26 - len(deleted)
        st_disk = spark.read.parquet(f"{path}/stats").first()
        assert (st_disk["n_docs"], st_disk["total_dl"]) == (
            want_stats["n_docs"], want_stats["total_dl"],
        ), buckets
        got = [
            tuple(r)
            for r in BM25.read(spark, path).score("spark fast data", k=0).collect()
        ]
        assert got == want, buckets
        # ...and the id left the ledger: re-appending it now works
        BM25.append(
            spark, path,
            spark.createDataFrame([(7, "spark reborn")], "id bigint, text string"),
        )
        assert BM25.read(spark, path).doc_len.count() == 26 - len(deleted) + 1

    # crash window: a vector whose rows a full compact already dropped
    # (crash before the clear) contributes exactly nothing — the live-
    # derived read lands on identical scores and stats
    path = str(tmp_path / "dix0")
    before = BM25.read(spark, path)
    want_now = [tuple(r) for r in before.score("spark fast data", k=0).collect()]
    want_stats_now = before.stats.first()
    spark.createDataFrame([(0,), (14,)], "id bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/deletes")
    back = BM25.read(spark, path)
    got = [tuple(r) for r in back.score("spark fast data", k=0).collect()]
    assert got == want_now
    assert tuple(back.stats.first()) == tuple(want_stats_now)
    # delete respects the writer lock like every other write path
    from comet_spark.storage.store import StoreLockedError, _FS

    fs = _FS(spark, path)
    assert fs.create_new(f"{path}/_lock")
    with pytest.raises(StoreLockedError):
        BM25.delete(spark, path, [1])
    fs.delete(f"{path}/_lock")


def test_bm25_delete_vector_schema_uniform_across_id_types(spark, tmp_path):
    """ADVICE r08: a DataFrame delete with a NARROWER id type followed by
    an iterable delete (bigint) must not leave mixed-schema part files
    under path/deletes — every write normalizes to the LEDGER's id type,
    so the vector always reads with one schema and later deletes/reads/
    compacts keep working."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [(i, f"spark data row {i} {'dup ' * (i % 2)}") for i in range(12)],
        "id bigint, text string",
    )
    path = str(tmp_path / "mixids")
    BM25(docs).write(path)
    # int32-typed DataFrame ids, then an iterable (int64) — the r08 bug
    # shape that used to strand the vector with two parquet schemas
    assert BM25.delete(
        spark, path,
        spark.createDataFrame([(3,)], "id int").select(F.col("id")),
    ) == 1
    assert BM25.delete(spark, path, [7]) == 1
    vec = spark.read.parquet(f"{path}/deletes")
    assert vec.schema["id"].dataType.simpleString() == "bigint"
    assert {r["id"] for r in vec.collect()} == {3, 7}
    # the read path applies both deletes; full compact clears the vector
    assert BM25.read(spark, path).doc_len.count() == 10
    BM25.compact(spark, path)
    assert spark.read.parquet(f"{path}/doc_len").count() == 10


def test_bm25_delete_out_of_range_id_fails_loudly(spark, tmp_path):
    """The id-type normalization must not let a value outside the
    ledger type's range WRAP into a real document's id (a plain
    non-ANSI cast would): it raises instead, and records nothing."""
    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [(i, f"spark data row {i}") for i in range(8)], "id int, text string"
    )
    path = str(tmp_path / "wrapids")
    BM25(docs).write(path)
    with pytest.raises(ValueError, match="not exactly representable"):
        BM25.delete(spark, path, [2**32 + 5])  # would wrap to id 5
    # fractional ids (e.g. round-tripped through CSV/JSON as floats)
    # must not TRUNCATE onto a real doc: try_cast(5.7 AS int) = 5
    with pytest.raises(ValueError, match="not exactly representable"):
        BM25.delete(
            spark, path,
            spark.createDataFrame([(5.7,)], "id double"),
        )
    # an exactly-representable float id is fine (5.0 → 5)
    assert BM25.delete(
        spark, path, spark.createDataFrame([(5.0,)], "id double")
    ) == 1
    # a NON-CANONICAL but exact string spelling names its doc: the
    # exactness check must not reject '06' (string forward-cast is
    # already exact-or-NULL, so no representation round-trip applies)
    assert BM25.delete(
        spark, path, spark.createDataFrame([("06",)], "id string")
    ) == 1
    # a fractional STRING is exact-or-NULL, so it fails via the
    # forward cast, still loudly
    with pytest.raises(ValueError, match="not exactly representable"):
        BM25.delete(
            spark, path, spark.createDataFrame([("3.7",)], "id string")
        )
    # only docs 5 and 6 deleted, 6 live docs remain
    assert BM25.read(spark, path).doc_len.count() == 6


def test_hnsw_inflated_ef_cap():
    """Beam inflation under exclude_ids clamps to the graph size (driver
    path): a store-scale delete vector mostly absent from this index
    must not request a beam far past scan-everything."""
    from unittest.mock import Mock

    from comet_spark.operators.hnsw import _inflated_ef

    excl = Mock()
    excl.count.return_value = 300_000
    assert _inflated_ef(50, 10, None) == 50
    assert _inflated_ef(50, 10, excl) == 300_050  # uncapped path
    assert _inflated_ef(50, 10, excl, cap=128) == 128
    assert _inflated_ef(50, 200, excl, cap=128) == 200  # never below k
    # precomputed count bypasses the job; a NEGATIVE count is the one
    # detectable understatement (ADVICE r10) — loud, not degraded recall
    assert _inflated_ef(50, 10, excl, exclude_count=7) == 57
    with pytest.raises(ValueError, match="exclude_count"):
        _inflated_ef(50, 10, excl, exclude_count=-1)


def test_winnowing_guarantee_and_pairs(spark):
    """Winnowing's core guarantee: two docs sharing a run of >= k+w-1
    tokens share at least one fingerprint; unrelated docs share none;
    docs shorter than k+w-1 tokens emit no fingerprints at all."""
    from comet_spark.operators.fingerprint import (
        winnow_fingerprints,
        winnow_neardup_pairs,
    )

    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared_run} three four"),
            (2, f"five six seven {shared_run} eight"),
            (3, "totally different words nine ten eleven twelve thirteen"),
            (4, "too short"),
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(docs, k=4, w=5)
    rows = fps.collect()
    sets = {}
    for r in rows:
        sets.setdefault(r["id"], set()).add(r["fp"])
    assert 4 not in sets  # below k+w-1 tokens -> dropped
    assert sets[1] & sets[2]  # shared 8-token run -> shared fingerprint
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])

    pairs = winnow_neardup_pairs(docs, k=4, w=5, min_shared=1).collect()
    assert [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)]
    assert 0 < pairs[0]["overlap"] <= 1.0


def test_hash_sample_deterministic_and_stratified(spark):
    from comet_spark.operators.sampling import hash_sample

    docs = spark.range(0, 500).withColumn(
        "stratum", (F.col("id") % 2 == 0).cast("string")
    )
    a = {r["id"] for r in hash_sample(docs, id_col="id", rates=30, salt="x").collect()}
    b = {r["id"] for r in hash_sample(docs, id_col="id", rates=30, salt="x").collect()}
    c = {r["id"] for r in hash_sample(docs, id_col="id", rates=30, salt="y").collect()}
    assert a == b  # reproducible draw
    assert a != c  # independent draw under a different salt
    assert 500 * 0.15 < len(a) < 500 * 0.45  # ~30%

    none = hash_sample(docs, id_col="id", rates=0, salt="x").count()
    everything = hash_sample(docs, id_col="id", rates=100, salt="x").count()
    assert (none, everything) == (0, 500)

    strat = hash_sample(
        docs, id_col="id", rates={"true": 100}, stratum_col="stratum",
        salt="x", default_rate=0,
    ).collect()
    assert len(strat) == 250 and all(r["stratum"] == "true" for r in strat)


def test_pack_sequences_bins(spark):
    """Handcrafted shard: token counts 3,3,3,4 with budget 6 ->
    bins by tokens-before-doc: 0,0,1(starts at 6),1(starts at 9 ->
    overflows budget by one doc — first-token-position semantics)."""
    from comet_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "d e f", "s"), (3, "g h i", "s"),
         (4, "j k l m", "s"), (5, "n o", "t")],
        "doc_id bigint, text string, source string",
    )
    out = {(r["shard"], r["bin"]): (r["n_docs"], r["total_tokens"])
           for r in pack_sequences(docs, budget=6).collect()}
    assert out == {("s", 0): (2, 6), ("s", 1): (2, 7), ("t", 0): (1, 2)}


def test_bpe_pretokenize_segments_mixed_runs(spark):
    from comet_spark.functions.text import bpe_pretokenize

    df = spark.createDataFrame(
        [("Customer#000000001",), ("hello  world, x2!",)], "s string"
    )
    got = [r[0] for r in df.select(bpe_pretokenize("s")).collect()]
    assert got[0] == ["customer", "#", "000000001"]
    assert got[1] == ["hello", " world", ",", " x", "2", "!"]


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 collapses to one component (the case pairwise dedup
    gets wrong), triangle 10-11-12 to another, pair 20-21 to a third."""
    from comet_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id bigint, b_id bigint",
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_curation_pipeline_fluent(spark):
    """CurationPipeline chains quality -> dedup -> sample into one lazy
    plan; funnel() reports monotone stage counts, dedup keeps exactly one
    member of the duplicated pair (the longer one)."""
    from comet_spark.pipeline import CurationPipeline

    long_run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{long_run} extra tail words here", "s1"),
            (2, long_run, "s1"),                     # duplicate of 1, shorter
            (3, "completely different content words one two three", "s2"),
            (4, "tiny", "s2"),                       # fails quality (1 token)
        ],
        "doc_id bigint, text string, source string",
    )
    p = (
        CurationPipeline(docs)
        .quality(min_words=3, min_stopwords=0, max_top_token_frac=1.0)
        .dedup(k=2, w=2, min_shared=1)
        .sample(rate=100, salt="t")
    )
    ids = sorted(r["doc_id"] for r in p.docs().collect())
    assert ids == [1, 3]  # 4 dropped by quality, 2 dropped as the shorter dup

    funnel = {r["stage"]: r["n_docs"] for r in p.funnel().collect()}
    assert funnel == {"raw": 4, "quality": 3, "dedup": 2, "sampled": 2}

    packed = p.packed(budget=8).collect()
    assert {r["shard"] for r in packed} == {"s1", "s2"}


def test_decontaminate_flags_overlap_and_clean_docs(spark):
    """A train doc sharing an n-gram with the eval set is flagged with the
    right counts; disjoint docs report zeros but still appear."""
    from comet_spark.operators.contamination import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about spark shuffles"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox leaps"), (101, "brown fox jumps high")],
        "doc_id bigint, text string",
    )
    got = {r["id"]: r for r in decontaminate(train, ev, n=3).collect()}
    assert set(got) == {1, 2}
    # doc 1: trigrams "quick brown fox" (eval 100) and "brown fox jumps"
    # (eval 101) are contaminated
    assert got[1]["n_contaminated"] == 2
    assert got[1]["n_eval_docs_hit"] == 2
    assert got[1]["n_shingles"] == 7
    assert abs(got[1]["contaminated_frac"] - round(2 / 7, 6)) < 1e-9
    assert got[2]["n_contaminated"] == 0
    assert got[2]["contaminated_frac"] == 0.0


def test_hll_distinct_tracks_exact_within_error(spark):
    """HLL estimate lands within ~3 standard errors (1.04/sqrt(64) ~ 13%)
    of the exact distinct count, and duplicates don't move the sketch."""
    from pyspark.sql import functions as F

    from comet_spark.operators.sketch import hll_distinct

    vals = [(("g1", f"item{i}")) for i in range(500)] + [
        ("g2", f"item{i % 20}") for i in range(400)
    ]
    df = spark.createDataFrame(vals, "g string, v string")
    got = {r["g"]: r["est_distinct"] for r in hll_distinct(df, ["g"], "v").collect()}
    assert abs(got["g1"] - 500) / 500 < 0.40
    assert abs(got["g2"] - 20) / 20 < 0.40
    # multiplicity-insensitive: sketch of the distinct set is identical
    got_d = {
        r["g"]: r["est_distinct"]
        for r in hll_distinct(df.distinct(), ["g"], "v").collect()
    }
    assert got == got_d


def test_hll_set_estimates_exact_matches_composite(spark):
    """r13 optimization: the one-pass set report must be VALUE-exact
    against the composite it replaced (hll_registers×2 +
    hll_set_estimates + distinct∩distinct count) — overlapping,
    disjoint, duplicate-heavy, and empty-side inputs, including the
    composite's zero-row degenerate behavior."""
    from pyspark.sql import functions as F

    from comet_spark.operators.sketch import (
        hll_registers,
        hll_set_estimates,
        hll_set_estimates_exact,
    )

    cases = {
        "overlap": [(f"t{i}", i < 60, i >= 40) for i in range(100)],
        "disjoint": [(f"t{i}", i < 50, i >= 50) for i in range(100)],
        "dups": [(f"t{i % 7}", True, i % 2 == 0) for i in range(200)],
        "a_empty": [(f"t{i}", False, True) for i in range(30)],
        "identical": [(f"t{i}", True, True) for i in range(80)],
    }
    for name, rows in cases.items():
        df = spark.createDataFrame(rows, "v string, fa boolean, fb boolean").select(
            "v", F.col("fa").cast("int").alias("fa"), F.col("fb").cast("int").alias("fb")
        )
        ra = hll_registers(df.filter("fa = 1").select("v"), [], "v")
        rb = hll_registers(df.filter("fb = 1").select("v"), [], "v")
        exact = (
            df.filter("fa = 1").select("v").distinct()
            .intersect(df.filter("fb = 1").select("v").distinct())
            .agg(F.count("*").alias("exact_intersect"))
        )
        want = [
            tuple(r)
            for r in hll_set_estimates(ra, rb).crossJoin(exact).collect()
        ]
        got = [
            tuple(r)
            for r in hll_set_estimates_exact(
                df, "v", F.col("fa"), F.col("fb")
            ).collect()
        ]
        assert got == want, (name, got, want)


def test_hll_distinct_exact_matches_composite(spark):
    """r13 optimization: the one-pass per-group register+exact fold must
    be VALUE-exact against the composite it replaced (hll_distinct +
    countDistinct + join) — multiple groups, duplicate-heavy streams,
    and a group with a single value."""
    from pyspark.sql import functions as F

    from comet_spark.operators.sketch import hll_distinct, hll_distinct_exact

    rows = (
        [("g1", f"item{i}") for i in range(500)]
        + [("g2", f"item{i % 20}") for i in range(400)]
        + [("g3", "only")] * 7
    )
    df = spark.createDataFrame(rows, "g string, v string")
    est = hll_distinct(df, ["g"], "v")
    exact = df.groupBy("g").agg(F.countDistinct("v").alias("exact_distinct"))
    want = sorted(
        tuple(r) for r in est.join(exact, "g").collect()
    )
    got = sorted(tuple(r) for r in hll_distinct_exact(df, ["g"], "v").collect())
    assert got == want


def test_repetition_metrics_hand_fixture(spark):
    """doc 1: 'a b a b a b' -> bigrams [ab,ba,ab,ba,ab] top 3/5; trigrams
    [aba,bab,aba,bab] top 2/4; 5grams [ababa, babab] dup 0.
    doc 2: all-same-token text is maximally repetitive everywhere."""
    from comet_spark.operators.quality import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x x x x x x x x")],
        "doc_id bigint, text string",
    )
    got = {r["id"]: r for r in repetition_metrics(docs).collect()}
    assert got[1]["top_bigram_frac"] == 0.6
    assert got[1]["top_trigram_frac"] == 0.5
    assert got[1]["dup_5gram_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 1.0
    assert got[2]["dup_5gram_frac"] == 0.75  # 4 occurrences, 1 distinct


def test_repetition_metrics_fold_matches_python_model(spark):
    """r13 optimization changed the internals (explode → groupBy gram
    counts replaced by an in-row sorted-run fold): pin value-identity
    against an independent Python model on adversarial docs — heavy
    runs, all-distinct, shorter-than-n (truncated-gram convention),
    single-token."""
    import random
    from collections import Counter

    from comet_spark.operators.quality import repetition_metrics

    rng = random.Random(13)
    vocab = ["a", "b", "c", "dd", "e1"]
    texts = ["a", "a a", "b c d", "x y z w v u t s r q"]
    texts += [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )

    def model(toks, n):
        grams = [
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n + 1, 1))
        ]
        c = Counter(grams)
        tot = len(grams)
        return max(c.values()) / tot, (tot - len(c)) / tot

    got = {r["id"]: r for r in repetition_metrics(docs).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        top2, _ = model(toks, 2)
        top3, _ = model(toks, 3)
        _, dup5 = model(toks, 5)
        assert got[i]["top_bigram_frac"] == round(top2, 6), (i, t)
        assert got[i]["top_trigram_frac"] == round(top3, 6), (i, t)
        assert got[i]["dup_5gram_frac"] == round(dup5, 6), (i, t)


def test_cms_one_sided_and_tight_for_heavy_hitters(spark):
    """CMS estimates never undercount, and with w >> distinct values the
    estimate is exact."""
    from pyspark.sql import functions as F

    from comet_spark.operators.sketch import cms_estimate, cms_sketch

    rows = [("a",)] * 50 + [("b",)] * 10 + [(f"noise{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "term string")
    counters = cms_sketch(df, "term", d=4, w=1024)
    probes = spark.createDataFrame([("a",), ("b",), ("absent",)], "term string")
    got = {
        r["term"]: r["est_count"]
        for r in cms_estimate(counters, probes, d=4, w=1024).collect()
    }
    assert got["a"] >= 50 and got["b"] >= 10 and got["absent"] >= 0
    assert got["a"] == 50  # w=1024 over 32 distinct values: no collision


def test_zorder_key_morton_values_and_tile_bounds(spark):
    """zorder_key(x=5, y=3, bits=4) = 27 (classic Morton interleave);
    tiling a 16x16 grid by the key's high bits yields exact 4x4 tiles —
    both dimensions stay bounded, which is the file-skipping property."""
    from pyspark.sql import functions as F

    from comet_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(5, 3)], "x int, y int")
    got = df.select(
        zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
    ).first()["z"]
    assert got == 27

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x int, y int"
    )
    z = zorder_key([F.col("x"), F.col("y")], bits=4)
    tiles = (
        grid.select("x", "y", F.shiftright(z, 4).alias("tile"))
        .groupBy("tile")
        .agg(
            F.count("*").alias("n"),
            (F.max("x") - F.min("x")).alias("wx"),
            (F.max("y") - F.min("y")).alias("wy"),
        )
        .collect()
    )
    assert len(tiles) == 16
    for r in tiles:
        assert r["n"] == 16 and r["wx"] == 3 and r["wy"] == 3


def test_tfidf_cosine_identical_docs_and_maxdf_prune(spark):
    """Identical docs -> cosine 1.0; a ubiquitous term (df=N, idf=0)
    contributes nothing, so max_df pruning it leaves cosines unchanged."""
    from comet_spark.operators.tfidf import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma shared"),
            (2, "alpha beta gamma shared"),
            (3, "delta epsilon zeta shared"),
        ],
        "doc_id bigint, text string",
    )
    got = {(r["a_id"], r["b_id"]): r["cosine"]
           for r in tfidf_cosine_pairs(docs, min_sim=0.0).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got or got[(1, 3)] == 0.0  # only idf-0 'shared' overlaps
    pruned = {(r["a_id"], r["b_id"]): r["cosine"]
              for r in tfidf_cosine_pairs(docs, min_sim=0.0, max_df=2).collect()}
    assert pruned[(1, 2)] == 1.0


def test_sketch_merge_of_parts_equals_sketch_of_whole(spark):
    """The distributed/streaming property: sketch each half, merge, and
    the state equals the single-pass sketch EXACTLY (HLL: max of
    registers; CMS: counter addition)."""
    from pyspark.sql import functions as F

    from comet_spark.operators.sketch import (
        cms_merge,
        cms_sketch,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    rows = [("g", f"v{i}") for i in range(300)] + [("g", f"v{i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "g string, v string")
    h1, h2 = df.filter(F.md5("v").startswith("a")), df.filter(~F.md5("v").startswith("a"))

    whole = {(r["g"], r["bucket"]): r["mj"] for r in hll_registers(df, ["g"], "v").collect()}
    merged_df = hll_merge(hll_registers(h1, ["g"], "v"), hll_registers(h2, ["g"], "v"))
    merged = {(r["g"], r["bucket"]): r["mj"] for r in merged_df.collect()}
    assert whole == merged
    est_w = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).first()["est_distinct"]
    est_m = hll_estimate(merged_df, ["g"]).first()["est_distinct"]
    assert est_w == est_m

    cw = {(r["i"], r["bucket"]): r["c"] for r in cms_sketch(df, "v").collect()}
    cm = {(r["i"], r["bucket"]): r["c"]
          for r in cms_merge(cms_sketch(h1, "v"), cms_sketch(h2, "v")).collect()}
    assert cw == cm


def test_redact_pii_unit(spark):
    """Counts are measured on the ORIGINAL text (categories don't eat
    each other's evidence), placeholders substitute in, unknown
    categories are rejected."""
    import pytest

    from comet_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.user@example.com or call +1 555-123-4567 from 10.0.0.1"),
            (2, "no pii at all here"),
            (3, None),
        ],
        "id bigint, text string",
    )
    out = {r["id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 1
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "<IPV4>" in out[1]["text"]
    assert "example.com" not in out[1]["text"]
    assert out[2]["text"] == "no pii at all here"
    assert out[3]["text"] is None and out[3]["n_email"] is None

    with pytest.raises(ValueError, match="unknown PII"):
        redact_pii(df, categories=["ssn"])


def test_redact_pii_ipv4_not_eaten_by_phone(spark):
    """Category order is part of the contract: a dotted quad with
    multi-digit octets IS a phone-shaped digit run, so ipv4 must apply
    first — and sequential counting means the span is counted exactly
    once, in the category whose placeholder appears in the output."""
    from comet_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [(1, "server at 192.168.10.25 responded")], "id bigint, text string"
    )
    r = redact_pii(df).collect()[0]
    assert r["text"] == "server at <IPV4> responded"
    assert r["n_ipv4"] == 1 and r["n_phone"] == 0 and r["n_email"] == 0


def test_redact_pii_dates_survive_phone_catches(spark):
    """The phone category matches explicit phone SHAPES, never generic
    digit runs: ISO / European dates and short runs below 7 digits must
    survive unredacted, while the standard phone layouts are caught."""
    from comet_spark.operators.redact import redact_pii

    survive = [
        "released on 2026-08-14 at noon",      # ISO date, 4-2-2
        "geboren am 14.08.2026 in Wien",       # European date, 2-2-4
        "version 1.23.45 shipped",             # 5 digits total
        "score was 12-34 at half time",        # 4 digits total
        "the 1914-1918 war",                   # year range, 4-4
    ]
    catch = [
        "call +1-555-123-4567 now",            # +CC, 3 groups
        "call +1 555-1234 now",                # +CC NNN-NNNN
        "dial (555) 123-4567 today",           # parenthesized NANP
        "dial 555-123-4567 today",             # bare NANP 10-digit
        "local line 555-1234 works",           # 7-digit local
        "intl +44 20 7946 0958 desk",          # +CC with 4 groups
    ]
    rows = [(i, t) for i, t in enumerate(survive + catch)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r["id"]: r for r in redact_pii(df).collect()}
    for i, t in enumerate(survive):
        assert out[i]["text"] == t and out[i]["n_phone"] == 0, (t, out[i]["text"])
    for j in range(len(survive), len(survive) + len(catch)):
        assert "<PHONE>" in out[j]["text"] and out[j]["n_phone"] == 1, (
            rows[j][1], out[j]["text"],
        )


def test_mixture_rates_math():
    """Temperature smoothing: tau=1 keeps natural proportions, tau=0
    equalizes, tails cap at denom (kept whole, never upsampled), and
    iteration order cannot change the rates (sorted-source float sum)."""
    from comet_spark.operators.sampling import mixture_rates

    counts = {"en": 8000, "zh": 1500, "de": 500}
    denom = 1_000_000

    # tau=1: rate = target/total for every source (natural proportions)
    r1 = mixture_rates(counts, temperature=1.0, target_total=5000, denom=denom)
    assert all(v == denom // 2 for v in r1.values())

    # tau=0: every source targets total/len(sources) -> tiny 'de' is
    # capped at denom while the head is cut hard
    r0 = mixture_rates(counts, temperature=0.0, target_total=3000, denom=denom)
    assert r0["de"] == denom  # 1000 target > 500 docs -> kept whole
    assert r0["en"] == denom // 8  # 1000/8000
    # smoothing is monotone: lower tau always favors the tail
    rhalf = mixture_rates(counts, temperature=0.5, target_total=3000, denom=denom)
    assert r0["en"] < rhalf["en"] < mixture_rates(
        counts, temperature=1.0, target_total=3000, denom=denom
    )["en"]
    assert rhalf == mixture_rates(
        dict(reversed(list(counts.items()))), temperature=0.5,
        target_total=3000, denom=denom,
    )  # insertion order irrelevant
    assert mixture_rates({}, temperature=0.5, target_total=10) == {}


def test_top_fraction_per_group(spark):
    """Rank-based quantile cut: exactly ceil(frac*n) survivors per group,
    picked by the total order; frac=1 keeps everything; bad frac raises."""
    import pytest

    from comet_spark.operators.sampling import top_fraction_per_group

    rows = [(i, "a" if i < 10 else "b", float(i % 7)) for i in range(15)]
    df = spark.createDataFrame(rows, "id bigint, grp string, score double")
    out = top_fraction_per_group(
        df, group_cols=["grp"],
        order_cols=[F.col("score").desc(), F.col("id").asc()], frac=0.3,
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append((r["score"], r["id"]))
    assert len(by_grp["a"]) == 3  # ceil(0.3*10)
    assert len(by_grp["b"]) == 2  # ceil(0.3*5)
    # group a's survivors are the 3 best under (score desc, id asc)
    want_a = sorted(((float(i % 7), i) for i in range(10)),
                    key=lambda t: (-t[0], t[1]))[:3]
    assert sorted(by_grp["a"], key=lambda t: (-t[0], t[1])) == want_a

    n_all = top_fraction_per_group(
        df, group_cols=["grp"], order_cols=[F.col("id").asc()], frac=1.0
    ).count()
    assert n_all == 15
    with pytest.raises(ValueError, match="frac"):
        top_fraction_per_group(df, group_cols=["grp"],
                               order_cols=[F.col("id")], frac=0.0)


def test_bm25_tiered_ladder_above_cap(spark, monkeypatch, tmp_path):
    """Within-tier merging for the BM25 index (VERDICT r07 #3): above
    the (patched-tiny) consolidation cap, each filled size class merges
    into ONE promoted output per rung — multi-rung passes stage through
    the scratch dir — and scoring stays byte-identical to a fresh build.
    Expectations are computed from the REAL policy over the observed
    file sizes, so the test is robust to parquet size drift."""
    import glob
    import os
    import random
    import re as _re

    import comet_spark.storage.store as store_mod
    from comet_spark.operators.bm25 import BM25
    from comet_spark.storage.store import _pick_tier_merge

    monkeypatch.setattr(store_mod, "_TIER_CAP", 1024)
    monkeypatch.setattr(store_mod, "_TIER_LADDER_MAX", 1 << 18)

    rng = random.Random(7)

    def doc(i, n_terms):
        filler = " ".join(
            "t" + "".join(rng.choice("0123456789abcdef") for _ in range(8))
            for _ in range(n_terms)
        )
        return (i, f"alpha beta {filler}")

    big = [doc(i, 40) for i in range(100)]           # 5 batches of 20
    small = [doc(100 + i, 40) for i in range(20)]    # 4 batches of 5
    full = spark.createDataFrame(big + small, "id bigint, text string")
    want = [tuple(r) for r in BM25(full).score("alpha beta", k=0).collect()]

    # one postings file per append (instead of one per shuffle partition)
    # so batch sizes translate into ladder classes deterministically
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        for buckets in (0, 4):
            path = str(tmp_path / f"lad{buckets}")
            BM25(full.filter("id < 20")).write(path, buckets=buckets)
            for lo in range(20, 100, 20):            # 4 big appends
                BM25.append(
                    spark, path, full.filter(f"id >= {lo} and id < {lo+20}")
                )
            for lo in range(100, 120, 5):            # 4 small appends
                BM25.append(
                    spark, path, full.filter(f"id >= {lo} and id < {lo+5}")
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    for buckets in (0, 4):
        path = str(tmp_path / f"lad{buckets}")

        # expected outcome from the real policy over observed sizes
        def plan(sub):
            files = [
                (os.path.basename(f), os.path.getsize(f))
                for f in glob.glob(f"{path}/{sub}/part-*")
            ]
            groups = {}
            if buckets and sub == "postings":
                for n, s in files:
                    b = _re.search(r"_(\d{5})\.c\d+", n).group(1)
                    groups.setdefault(b, []).append((n, s))
            else:
                groups[0] = files
            kept, sets = [], []
            for g in groups.values():
                k, m = _pick_tier_merge(g)
                kept.extend(k)
                sets.extend(m)
            return kept, sets

        kept_posts, sets_posts = plan("postings")
        assert sets_posts, "scenario did not reach the ladder (vacuous)"
        # at least one ABOVE-CAP class set (the point of the test)
        sizes = {
            os.path.basename(f): os.path.getsize(f)
            for f in glob.glob(f"{path}/postings/part-*")
        }
        rungs = {
            max(store_mod._size_class(sizes[n]) for n in s) for s in sets_posts
        }
        assert any(r >= 0 for r in rungs), rungs
        if buckets == 0:
            assert len(rungs) >= 2, rungs  # multi-rung: scratch staging runs

        # a stale scratch dir from a "crashed" earlier pass is cleaned up
        os.makedirs(f"{path}/postings.tierscratch", exist_ok=True)

        BM25.compact(spark, path, tiered=True)

        got_files = {
            os.path.basename(f) for f in glob.glob(f"{path}/postings/part-*")
        }
        assert set(kept_posts) <= got_files
        assert not any(n in got_files for s in sets_posts for n in s)
        for suf in (".old", ".compacting", ".tiermove", ".tierscratch"):
            assert not os.path.exists(f"{path}/postings{suf}"), suf
        back = BM25.read(spark, path)
        got = [tuple(r) for r in back.score("alpha beta", k=0).collect()]
        assert got == want, buckets
        # merged outputs PROMOTED: every new file's class exceeds the
        # rung it merged (plain layout: exactly one output per rung)
        if buckets == 0:
            new = got_files - set(kept_posts)
            assert len(new) == len(rungs), (new, rungs)
            new_classes = sorted(
                store_mod._size_class(os.path.getsize(f"{path}/postings/{n}"))
                for n in new
            )
            assert new_classes > sorted(rungs), (new_classes, rungs)


def test_bm25_compact_rerun_heals_between_renames_crash(spark, tmp_path):
    """A compact crash between its two renames leaves a table's live dir
    absent (original in *.old, that run's rewrite in *.compacting). A
    re-run must RESTORE the original before its cleanup — without the
    heal, the re-run's delete(tmp)+delete(old) destroy both surviving
    copies before the writer notices the source is gone (for postings
    that is unrecoverable), and the up-front ledger checks wedge on the
    missing doc_len/stats dirs."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name
    from comet_spark.storage.store import _FS

    full = spark.createDataFrame(
        [(1, "spark joins tables"), (2, "spark streams data"),
         (3, "tables of data"), (4, "fast spark scans")],
        "id bigint, text string",
    )
    want = [tuple(r) for r in BM25(full).score("spark tables", k=0).collect()]

    for buckets in (0, 4):
        path = str(tmp_path / f"crashix{buckets}")
        BM25(full.filter(F.col("id") <= 2)).write(path, buckets=buckets)
        BM25.append(spark, path, full.filter(F.col("id") > 2))

        # crash states, one table at a time: doc_len (read by the re-run's
        # ledger checks before any swap) and postings (the data-loss case)
        fs = _FS(spark, path)
        for sub in ("doc_len", "postings"):
            assert fs.rename(f"{path}/{sub}", f"{path}/{sub}.old")
            # a partially-written rewrite may also be present
            spark.createDataFrame([(1,)], "x int").write.parquet(
                f"{path}/{sub}.compacting"
            )
            BM25.compact(spark, path)  # re-run: heal, then compact
            assert not fs.exists(f"{path}/{sub}.old")
            assert not fs.exists(f"{path}/{sub}.compacting")

        if buckets:
            spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        back = BM25.read(spark, path)
        assert [tuple(r) for r in back.score("spark tables", k=0).collect()] == want
        assert spark.read.parquet(f"{path}/stats").count() == 1


def test_bm25_tiered_compact_merges_small_segments_only(spark, tmp_path):
    """Size-tiered compaction (LSM levels for the text index): per bucket,
    every file except the largest merges and the big base file moves
    across by RENAME — cost ∝ appended segments, not index size. The
    base file must survive byte-identical (same name and size), buckets
    hold at most two files, and scores/stats must equal a fresh
    full-corpus build."""
    import glob
    import os
    import re as _re

    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    # the base must be genuinely top-tier (≥4x the append files) — at
    # parquet's ~1KB file floor a tiny corpus cannot separate tiers: each
    # 10-doc append lands as one ~1.1KB file per bucket, so every base
    # bucket file must exceed ~4.5KB (2,000 docs)
    rows = [
        (i, f"spark data tables term{i % 7} filler{i % 31} extra{i % 13}")
        for i in range(1, 2031)
    ]
    full = spark.createDataFrame(rows, "id bigint, text string")
    fresh = BM25(full)
    want_scores = [tuple(r) for r in fresh.score("spark term1 data", k=0).collect()]
    want_posts = {tuple(r) for r in fresh.postings.collect()}
    want_df = {tuple(r) for r in fresh.df.collect()}
    want_stats = fresh.stats.first()

    for buckets in (0, 4):
        path = str(tmp_path / f"tix{buckets}")
        BM25(full.filter(F.col("id") <= 2000)).write(path, buckets=buckets)

        def _sizes(p=path):
            return {
                os.path.basename(f): os.path.getsize(f)
                for f in glob.glob(f"{p}/postings/part-*")
            }

        base_files = _sizes()
        for lo, hi in ((2000, 2010), (2010, 2020), (2020, 2030)):
            BM25.append(
                spark, path, full.filter((F.col("id") > lo) & (F.col("id") <= hi))
            )
        BM25.compact(spark, path, tiered=True)

        after = _sizes()
        kept = set(base_files) & set(after)
        if buckets:
            # every bucket keeps its base file untouched...
            assert len(kept) == len(base_files)
            assert all(after[n] == base_files[n] for n in kept)
            # ...plus at most one merged file per bucket
            per_bucket: dict[str, int] = {}
            for n in after:
                b = _re.search(r"_(\d{5})\.c\d+", n).group(1)
                per_bucket[b] = per_bucket.get(b, 0) + 1
            assert max(per_bucket.values()) <= 2
        else:
            # unbucketed: the single largest base file survives
            assert len(kept) >= 1
            assert all(after[n] == base_files[n] for n in kept)
            assert len(after) <= len(base_files) + 1

        # single-segment shape: one stats row, no stored df, exact values
        assert spark.read.parquet(f"{path}/stats").count() == 1
        assert not os.path.exists(f"{path}/df")
        if buckets:
            spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        back = BM25.read(spark, path)
        assert {tuple(r) for r in back.postings.collect()} == want_posts
        assert {tuple(r) for r in back.df.collect()} == want_df
        got_stats = back.stats.first()
        assert (got_stats["n_docs"], got_stats["avgdl"], got_stats["total_dl"]) == (
            want_stats["n_docs"], want_stats["avgdl"], want_stats["total_dl"],
        )
        got = [tuple(r) for r in back.score("spark term1 data", k=0).collect()]
        assert got == want_scores, buckets
        if buckets:
            plan = (
                back.score("spark", k=3)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan


def test_bm25_tiered_compact_crash_sweep(spark, tmp_path):
    """Every crash point in the tiered-merge protocol heals: inject a
    crash after the K-th filesystem rename of a tiered compact (journal
    install, move-aside, each kept-file move, side-dir install, plus the
    df/stats full swaps), for every K until a run completes — then
    re-run compact and require scores, postings, and stats to equal the
    fresh full-corpus build, with no leftover side dirs or journals."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    # base must be top-tier vs the appends so the tiered merge actually
    # runs (two sub-tier files per bucket)
    rows = [
        (i, f"spark data tables term{i % 5} pad{i % 29}") for i in range(1, 617)
    ]
    full = spark.createDataFrame(rows, "id bigint, text string")
    fresh = BM25(full)
    want_scores = [tuple(r) for r in fresh.score("spark term2 data", k=0).collect()]
    want_posts = {tuple(r) for r in fresh.postings.collect()}

    # the pre-compact state is deterministic, so build it ONCE and copy
    # the directory per crash point — same coverage, a fraction of the
    # Spark jobs (the per-k build dominated the suite's runtime, r10)
    import shutil

    seed = str(tmp_path / "sweep_seed")
    BM25(full.filter(F.col("id") <= 600)).write(seed, buckets=4)
    BM25.append(
        spark, seed,
        full.filter((F.col("id") > 600) & (F.col("id") <= 608)),
    )
    BM25.append(spark, seed, full.filter(F.col("id") > 608))

    for k, crash in rename_crash_points(limit=40):
        path = str(tmp_path / f"sweep{k}")
        shutil.copytree(seed, path)

        with crash:
            BM25.compact(spark, path, tiered=True)

        # heal + complete on re-run (every write path heals at entry)
        BM25.compact(spark, path, tiered=True)
        from comet_spark.storage.store import _FS

        fs = _FS(spark, path)
        for sub in ("postings", "doc_len", "stats"):
            assert not fs.exists(f"{path}/{sub}.old"), (k, sub)
            assert not fs.exists(f"{path}/{sub}.compacting"), (k, sub)
            assert not fs.exists(f"{path}/{sub}.tiermove"), (k, sub)
        spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        back = BM25.read(spark, path)
        assert {tuple(r) for r in back.postings.collect()} == want_posts, k
        got = [tuple(r) for r in back.score("spark term2 data", k=0).collect()]
        assert got == want_scores, k
        assert spark.read.parquet(f"{path}/stats").count() == 1, k


def test_bm25_heal_respects_writer_lock(spark, tmp_path):
    """BM25.heal renames directories, so it must take the writer lock:
    healing lock-free could interleave with a live compactor mid-swap
    (resurrecting the aside dir it is about to install over). A held
    marker fails fast, like any write."""
    import pytest

    from comet_spark.operators.bm25 import BM25
    from comet_spark.storage.store import StoreLockedError, _FS

    docs = spark.createDataFrame(
        [(1, "spark locks heal")], "id bigint, text string"
    )
    path = str(tmp_path / "healix")
    BM25(docs).write(path, buckets=4)
    fs = _FS(spark, path)
    assert fs.create_new(f"{path}/_lock")  # a live writer
    with pytest.raises(StoreLockedError):
        BM25.heal(spark, path)
    BM25.force_unlock(spark, path)
    BM25.heal(spark, path)  # no-op on a healthy index
    assert BM25.read(spark, path).doc_len.count() == 1


def test_bm25_full_compact_crash_sweep(spark, tmp_path):
    """Every rename crash point in the FULL BM25 compact (four plain
    two-rename table swaps) heals on re-run — generalizes the targeted
    doc_len/postings heal test to the whole protocol."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    full = spark.createDataFrame(
        [(i, f"spark data tables term{i % 5}") for i in range(1, 25)],
        "id bigint, text string",
    )
    want = [tuple(r) for r in BM25(full).score("spark term2", k=0).collect()]

    # build-once, copy-per-crash-point (see the tiered sweep's note)
    import shutil

    seed = str(tmp_path / "fullsweep_seed")
    BM25(full.filter(F.col("id") <= 18)).write(seed, buckets=4)
    BM25.append(spark, seed, full.filter(F.col("id") > 18))

    for k, crash in rename_crash_points(limit=16):
        path = str(tmp_path / f"fullsweep{k}")
        shutil.copytree(seed, path)

        with crash:
            BM25.compact(spark, path)

        BM25.compact(spark, path)  # heal + complete
        from comet_spark.storage.store import _FS

        fs = _FS(spark, path)
        for sub in ("postings", "doc_len", "stats"):
            assert not fs.exists(f"{path}/{sub}.old"), (k, sub)
            assert not fs.exists(f"{path}/{sub}.compacting"), (k, sub)
        spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        back = BM25.read(spark, path)
        assert [tuple(r) for r in back.score("spark term2", k=0).collect()] == want, k
        assert spark.read.parquet(f"{path}/stats").count() == 1, k


def test_bm25_uncommitted_deletes_dir_reads_as_no_deletes(spark, tmp_path):
    """A deletes dir with NO committed part files — a first delete()
    whose write job crashed, or a compact that died mid-clear — is the
    no-deletes state: read()/delete()/compact() must all keep working
    instead of bricking on schema inference (review r08 #1)."""
    import os

    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    full = spark.createDataFrame(
        [(i, f"spark data tables term{i % 5}") for i in range(1, 13)],
        "id bigint, text string",
    )
    want = [tuple(r) for r in BM25(full).score("spark term2", k=0).collect()]
    path = str(tmp_path / "udel")
    BM25(full).write(path, buckets=4)
    os.makedirs(f"{path}/deletes", exist_ok=True)  # crashed-write remnant
    open(f"{path}/deletes/_SUCCESS", "w").close()

    back = BM25.read(spark, path)
    assert back.del_ids is None
    assert [tuple(r) for r in back.score("spark term2", k=0).collect()] == want
    # delete() still works on top of the remnant dir...
    assert BM25.delete(spark, path, [3]) == 1
    got = [
        tuple(r)
        for r in BM25.read(spark, path).score("spark term2", k=0).collect()
    ]
    assert got == [
        tuple(r)
        for r in BM25(full.filter("id != 3")).score("spark term2", k=0).collect()
    ]
    # ...and compact() applies it
    BM25.compact(spark, path)
    assert not os.path.exists(f"{path}/deletes")
    assert spark.read.parquet(f"{path}/doc_len").count() == 11


def test_bm25_delete_between_crashed_compact_and_rerun(spark, tmp_path):
    """delete() issued BETWEEN a crashed delete-applying compact and its
    re-run must not wedge the ledger check (review r08 #2): dead vector
    entries (no live doc_len row) account for the survivor/ledger gap,
    while the fresh delete's ids are live and don't inflate it."""
    import os

    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25
    from comet_spark.storage.store import _FS

    full = spark.createDataFrame(
        [(i, f"spark data tables term{i % 5}") for i in range(1, 25)],
        "id bigint, text string",
    )
    first_del, second_del = [2, 7, 12], [5, 9]
    path = str(tmp_path / "middel")
    BM25(full.filter(F.col("id") <= 18)).write(path, buckets=4)
    BM25.append(spark, path, full.filter(F.col("id") > 18))
    assert BM25.delete(spark, path, first_del) == 3

    # simulate the crash state: doc_len swapped to survivors, stats/df/
    # postings stale, vector retained (exactly between the compact's
    # doc_len swap and the rest)
    fs = _FS(spark, path)
    surv = (
        spark.read.parquet(f"{path}/doc_len")
        .join(spark.createDataFrame([(i,) for i in first_del], "id bigint"),
              "id", "left_anti")
        .localCheckpoint()
    )
    surv.write.mode("overwrite").parquet(f"{path}/doc_len.side")
    fs.delete(f"{path}/doc_len")
    assert fs.rename(f"{path}/doc_len.side", f"{path}/doc_len")

    # a user deletes MORE docs before re-running the compact
    assert BM25.delete(spark, path, second_del) == 2
    # the mixed state still reads exactly (live-derived corrections)
    want = [
        tuple(r)
        for r in BM25(full.filter(~F.col("id").isin(first_del + second_del)))
        .score("spark term2", k=0)
        .collect()
    ]
    got = [
        tuple(r)
        for r in BM25.read(spark, path).score("spark term2", k=0).collect()
    ]
    assert got == want
    # and the compact re-run CONVERGES instead of refusing
    BM25.compact(spark, path)
    assert not os.path.exists(f"{path}/deletes")
    assert spark.read.parquet(f"{path}/doc_len").count() == 24 - 5
    got = [
        tuple(r)
        for r in BM25.read(spark, path).score("spark term2", k=0).collect()
    ]
    assert got == want


def test_bm25_delete_compact_crash_sweep(spark, tmp_path):
    """The DELETE-APPLYING full compact rewrites tables to different
    cardinalities, so unlike the value-identical plain swaps, its
    intermediate states MIX survivor and pre-delete tables. Every rename
    crash point must (a) READ correctly — the live-derived corrections
    land on the without-deleted-docs scores at every mix — and (b) pass
    the vector-aware ledger check so the re-run CONVERGES (review r08
    finding #1: the stale-stats read and the bricked re-run)."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25, _postings_table_name

    full = spark.createDataFrame(
        [(i, f"spark data tables term{i % 5}") for i in range(1, 25)],
        "id bigint, text string",
    )
    deleted = [2, 7, 12, 17, 22]
    want = [
        tuple(r)
        for r in BM25(full.filter(~F.col("id").isin(deleted)))
        .score("spark term2", k=0)
        .collect()
    ]

    # build-once, copy-per-crash-point (see the tiered sweep's note)
    import shutil

    seed = str(tmp_path / "delsweep_seed")
    BM25(full.filter(F.col("id") <= 18)).write(seed, buckets=4)
    BM25.append(spark, seed, full.filter(F.col("id") > 18))
    assert BM25.delete(spark, seed, deleted) == len(deleted)

    for k, crash in rename_crash_points(limit=16):
        path = str(tmp_path / f"delsweep{k}")
        shutil.copytree(seed, path)

        with crash:
            BM25.compact(spark, path)

        # (a) the crashed MIXED state either fails LOUDLY (between a
        # swap's two renames the live dir is absent — the documented
        # reader contract) or reads the exact without-deleted scores;
        # it must never read silently wrong
        spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        try:
            mid = BM25.read(spark, path)
            got_mid = [tuple(r) for r in mid.score("spark term2", k=0).collect()]
        except Exception:
            pass  # loud is fine; silent-wrong is what (a) forbids
        else:
            assert got_mid == want, (k, "mixed-state read")

        # (b) the re-run converges instead of tripping the ledger check
        BM25.compact(spark, path)
        from comet_spark.storage.store import _FS

        fs = _FS(spark, path)
        for sub in ("postings", "doc_len", "stats"):
            assert not fs.exists(f"{path}/{sub}.old"), (k, sub)
            assert not fs.exists(f"{path}/{sub}.compacting"), (k, sub)
        assert not fs.exists(f"{path}/deletes"), k  # hard delete landed
        spark.sql(f"DROP TABLE IF EXISTS {_postings_table_name(path)}")
        back = BM25.read(spark, path)
        assert [tuple(r) for r in back.score("spark term2", k=0).collect()] == want, k
        assert spark.read.parquet(f"{path}/doc_len").count() == 24 - len(deleted), k
        st = spark.read.parquet(f"{path}/stats").first()
        assert st["n_docs"] == 24 - len(deleted), k


def test_bm25_append_writes_one_file_per_table(spark, tmp_path):
    """A small append lands as ONE part file in each of postings,
    doc_len and stats: the writes keep the partitioning AQE picks for
    the batch instead of one file per shuffle partition."""
    import glob

    from comet_spark.operators.bm25 import BM25

    path = str(tmp_path / "one_file")
    BM25(
        spark.createDataFrame(
            [(i, f"spark doc {i} tables") for i in range(20)], "id bigint, text string"
        )
    ).write(path)
    tables = ("postings", "doc_len", "stats")

    def _parts():
        return {t: set(glob.glob(f"{path}/{t}/part-*")) for t in tables}

    before = _parts()
    BM25.append(
        spark, path,
        spark.createDataFrame(
            [(100 + i, f"fresh spark batch doc {i} word{i % 7}") for i in range(20)],
            "id bigint, text string",
        ),
    )
    after = _parts()
    assert {t: len(after[t] - before[t]) for t in tables} == {t: 1 for t in tables}


def _bm25_live_corpus(spark):
    return spark.createDataFrame(
        [(i, f"spark data tables term{i % 5} word{i % 3}") for i in range(1, 41)],
        "id bigint, text string",
    )


def test_bm25_first_seen_terms_cost_no_extra_job(spark, tmp_path):
    """df is counted inside the scoring plan, so a query whose terms the
    instance has never seen runs exactly the jobs its repeat does — no
    driver-side df lookup job the first time a term shows up — and on a
    term-bucketed index the count stays bucket-local (no term shuffle)."""
    from comet_spark.operators.bm25 import BM25
    from tests.test_local_frame import _jobs

    path = str(tmp_path / "seen")
    BM25(_bm25_live_corpus(spark)).write(path, buckets=4)
    back = BM25.read(spark, path)
    back.score("tables", k=3).collect()  # one-off per-instance stats fetch
    query = "spark term3 word1"
    first = _jobs(
        spark, "bm25-first-seen", lambda: back.score(query, k=5).collect()
    )
    again = _jobs(
        spark, "bm25-repeat", lambda: back.score(query, k=5).collect()
    )
    assert first == again
    plan = back.score(query, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(term" not in plan


def test_bm25_scoring_shapes_have_no_term_exchange(spark, tmp_path):
    """On an appended (two-segment), soft-deleted, term-bucketed index,
    both score() and score_batch() count df bucket-locally: neither plan
    shuffles by term."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    full = _bm25_live_corpus(spark)
    path = str(tmp_path / "shapes")
    BM25(full.filter(F.col("id") <= 30)).write(path, buckets=4)
    BM25.append(spark, path, full.filter(F.col("id") > 30))
    BM25.delete(spark, path, [2, 33])
    back = BM25.read(spark, path)
    qterms = spark.createDataFrame(
        [(0, "spark", 1.0), (0, "term3", 1.0), (1, "word1", 2.0)],
        "qid bigint, term string, qtf double",
    )
    for df in (
        back.score("spark term3 word1", k=5),
        back.score_batch(qterms, k=5),
        back.score_batch(qterms, k=5, literal_terms=["spark", "term3", "word1"]),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(term" not in plan, plan


def test_bm25_write_paths_store_no_df_table(spark, tmp_path):
    """No write path leaves a ``df`` table: write, append, delete and
    both compact modes keep the index to postings, doc_len and stats."""
    import os

    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    full = _bm25_live_corpus(spark)
    path = str(tmp_path / "nodf")
    steps = (
        lambda: BM25(full.filter(F.col("id") <= 20)).write(path, buckets=4),
        lambda: BM25.append(spark, path, full.filter(F.col("id") > 20)),
        lambda: BM25.delete(spark, path, [4, 25]),
        lambda: BM25.compact(spark, path, tiered=True),
        lambda: BM25.compact(spark, path),
    )
    for i, step in enumerate(steps):
        step()
        assert not os.path.exists(f"{path}/df"), i


def test_bm25_read_df_is_live_postings_per_term(spark, tmp_path):
    """``BM25.read(...).df`` derives from the postings: it equals a fresh
    build's df over the live docs, both without and with a delete
    vector."""
    import pyspark.sql.functions as F

    from comet_spark.operators.bm25 import BM25

    full = _bm25_live_corpus(spark)
    path = str(tmp_path / "livedf")
    BM25(full.filter(F.col("id") <= 30)).write(path, buckets=4)
    BM25.append(spark, path, full.filter(F.col("id") > 30))

    def _df(ix):
        return sorted(map(tuple, ix.df.collect()))

    assert _df(BM25.read(spark, path)) == _df(BM25(full))
    deleted = [5, 10, 15, 20, 25, 30, 35, 40]  # every term0 doc
    BM25.delete(spark, path, deleted)
    got = _df(BM25.read(spark, path))
    assert got == _df(BM25(full.filter(~F.col("id").isin(deleted))))
    assert "term0" not in {t for t, _ in got}
