"""Focused tests for the r14 optimization rewrites: each one pins the
NEW physical shape's output against the shape it replaced (literal vs
broadcast query delivery, window-tiebreak vs pre-aggregated as-of dedup,
merged probe table vs two broadcasts), plus the mid-session-regen
staleness contract for the caches re-keyed this round."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMALL


# --- knn literal-query path ≡ broadcast-join path --------------------------

DOCS = [
    (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0]),
    (4, [3.0, 4.0]), (5, [-1.0, 1.0]), (6, [0.5, 0.5]),
]


@pytest.mark.parametrize("metric", ["l2", "l2sq", "cosine"])
def test_knn_literal_query_equals_broadcast_path(spark, metric):
    from comet_spark.operators.knn import knn

    docs = spark.createDataFrame(DOCS, "id bigint, vector array<double>")
    qvec = [1.0, 1.0]
    q = spark.createDataFrame([(0, qvec)], "qid bigint, qvec array<double>")
    a = sorted(map(tuple, knn(docs, q, k=4, metric=metric).collect()))
    b = sorted(map(tuple, knn(
        docs, None, k=4, metric=metric, literal_query=qvec
    ).collect()))
    assert a == b


def test_knn_literal_query_threshold_and_zero_vector(spark):
    """The literal path keeps the two edge behaviors the broadcast path
    pinned: cosine of a zero doc vector is NULL (excluded without
    re-evaluating the distance), and thresholding applies post-cut."""
    from comet_spark.operators.knn import knn

    docs = spark.createDataFrame(
        DOCS + [(7, [0.0, 0.0])], "id bigint, vector array<double>"
    )
    qvec = [1.0, 0.0]
    q = spark.createDataFrame([(0, qvec)], "qid bigint, qvec array<double>")
    for kw in ({"metric": "cosine"}, {"metric": "l2", "threshold": 1.5}):
        a = sorted(map(tuple, knn(docs, q, k=10, **kw).collect()))
        b = sorted(map(tuple, knn(
            docs, None, k=10, literal_query=qvec, **kw
        ).collect()))
        assert a == b


# --- BM25 literal-qtf path ≡ query-terms-join path --------------------------

def test_bm25_score_literal_qtf_equals_generic_batch(spark):
    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"), (2, "banana cherry"),
            (3, "apple cherry cherry date"), (4, "date elderberry"),
            (5, "banana banana apple cherry"),
        ],
        "id bigint, text string",
    )
    ix = BM25(docs)
    # duplicate query token ⇒ qtf 2 for 'apple' — exercises the map
    query = "apple cherry apple"
    lit_rows = sorted(map(tuple, ix.score(query, k=10).collect()))
    qterms = spark.createDataFrame(
        [(0, "apple", 2.0), (0, "cherry", 1.0)],
        "qid bigint, term string, qtf double",
    )
    gen_rows = sorted(
        (r["id"], r["score"])
        for r in ix.score_batch(qterms, k=10).collect()
    )
    assert lit_rows == gen_rows


def _batch_rows(ix, spark, terms: dict[str, float]):
    qterms = spark.createDataFrame(
        [(0, t, c) for t, c in terms.items()],
        "qid bigint, term string, qtf double",
    )
    return sorted(
        (r["id"], r["score"]) for r in ix.score_batch(qterms, k=0).collect()
    )


def test_bm25_live_df_equals_fresh_build_and_batch(spark, tmp_path):
    """score() counts df from the query terms' postings inside its plan:
    on a read-back index it must be tuple-exact vs a fresh build over the
    same docs and vs score_batch(), including a query term missing from
    the vocabulary; the plan carries no aux subtree (no
    BroadcastNestedLoopJoin)."""
    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"), (2, "banana cherry"),
            (3, "apple cherry cherry date"), (4, "date elderberry"),
            (5, "banana banana apple cherry"),
        ],
        "id bigint, text string",
    )
    path = str(tmp_path / "ix")
    BM25(docs).write(path)
    back = BM25.read(spark, path)
    query = "apple cherry zzz_not_in_vocab"
    terms = {"apple": 1.0, "cherry": 1.0, "zzz_not_in_vocab": 1.0}
    lit = back.score(query, k=10)
    lit_rows = sorted(map(tuple, lit.collect()))
    assert lit_rows == sorted(map(tuple, BM25(docs).score(query, k=10).collect()))
    assert lit_rows == _batch_rows(back, spark, terms)
    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_live_df_delete_path_equals_fresh_build(spark, tmp_path):
    """Delete-path twin: on a read-back index carrying a delete vector,
    score() must be tuple-exact vs a from-scratch index over the
    survivors and vs score_batch() — including a term whose postings are
    ALL deleted (its df row disappears on every path)."""
    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"), (2, "banana cherry"),
            (3, "apple cherry cherry date"), (4, "date elderberry"),
            (5, "banana banana apple cherry"), (6, "kumquat apple"),
        ],
        "id bigint, text string",
    )
    path = str(tmp_path / "ix_del")
    BM25(docs).write(path)
    # id 6 holds the ONLY kumquat posting; id 3 thins apple/cherry dfs
    BM25.delete(spark, path, [3, 6])
    back = BM25.read(spark, path)
    assert back.del_ids is not None
    query = "apple cherry kumquat"
    terms = {"apple": 1.0, "cherry": 1.0, "kumquat": 1.0}
    lit_rows = sorted(map(tuple, back.score(query, k=0).collect()))
    fresh = BM25(docs.filter(~F.col("id").isin([3, 6])))
    assert lit_rows == sorted(
        map(tuple, fresh.score(query, k=0).collect())
    )
    assert lit_rows == _batch_rows(back, spark, terms)


def test_bm25_score_zero_token_query_matches_nothing(spark):
    """The literal-qtf path must keep the empty-join semantics: a query
    that tokenizes to NOTHING returns no rows (an empty literal map with
    no isin prune would otherwise NULL-score every posting row)."""
    from comet_spark.operators.bm25 import BM25

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "id bigint, text string"
    )
    assert BM25(docs).score("!!! ???", k=5).collect() == []


# --- as-of window tiebreak ≡ (key, time) pre-aggregation --------------------

def test_asof_tiebreak_equals_preagg(spark):
    from comet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k bigint, t bigint, tag string",
    )
    # duplicate right rows at the same (k, t): carried must be max(v)
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 300), (1, 10, 200), (1, 15, 50),
         (2, 15, 7), (2, 15, 9), (3, 6, 1)],
        "k bigint, t bigint, v bigint",
    )
    pre = right.groupBy("k", "t").agg(F.max("v").alias("v"))
    a = sorted(map(tuple, asof_join(
        left, pre, on="k", left_time="t", right_time="t", right_cols=["v"]
    ).collect()))
    b = sorted(map(tuple, asof_join(
        left, right, on="k", left_time="t", right_time="t",
        right_cols=["v"], right_tiebreak=["v"],
    ).collect()))
    assert a == b
    # and the values are the expected point-in-time maxima
    byk = {(r[0], r[1]): r[3] for r in b}
    assert byk[(1, 10)] == 300 and byk[(1, 20)] == 50
    assert byk[(2, 15)] == 9 and byk[(3, 5)] is None


# --- fuse_min explicit modality presence ------------------------------------

def test_fuse_min_rejects_duplicate_single_leg_ids(spark):
    """ADVICE r13: a leg with DUPLICATE ids must not sneak a
    single-modality doc through the both-legs filter (count(*)==2 did)."""
    from comet_spark.operators.fusion import fuse_min

    vec = spark.createDataFrame(
        [(1, 0.5), (1, 0.7), (2, 0.4)], "id bigint, score double"
    )
    txt = spark.createDataFrame([(2, 0.9)], "id bigint, score double")
    rows = {r["id"]: r["score"] for r in fuse_min(vec, txt, k=10).collect()}
    assert 1 not in rows          # vec-only doc, even though it has 2 rows
    assert rows == {2: 0.4}       # true both-modality doc survives, min score


# --- IVF merged probe table keeps per-query pruning -------------------------

def test_ivf_search_batch_merged_probe_table_prunes_per_query(spark):
    import numpy as np

    from comet_spark.operators.ann import IVFIndex

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(64)]
    docs = spark.createDataFrame(vecs, "id bigint, vector array<double>")
    ivf = IVFIndex.train(docs, 4)
    assigned = ivf.assign(docs)
    qs = spark.createDataFrame(
        [(i, vecs[i * 7][1]) for i in range(4)], "qid bigint, qvec array<double>"
    )
    batch = sorted(map(tuple, ivf.search_batch(
        assigned, qs, k=3, nprobe=2
    ).collect()))
    # the per-query loop is the semantic reference
    loop = []
    for i in range(4):
        for r in ivf.search(assigned, vecs[i * 7][1], k=3, nprobe=2).collect():
            loop.append((i, r["id"], r["score"]))
    assert batch == sorted(loop)


# --- mid-session regen flips the r14-rekeyed caches -------------------------

def test_regen_flips_rekeyed_session_caches(spark, tmp_path):
    """VERDICT r13 #6: _QVEC_CACHE / _EMB_CACHE / _TOKDOCS_CACHE /
    _SHINGLE_SETS_CACHE / _LSM_SEG_TABLES_CACHE now key on the corpus
    fingerprint — a regen (same bytes, fresh mtime) must re-route every
    one of them to a fresh entry."""
    import __spark_entry__ as entry_mod

    sf_dir = str(tmp_path / "sfY")
    os.makedirs(sf_dir)
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF_DIR_SMALL}/{t}.parquet", f"{sf_dir}/{t}.parquet")

    def snapshot():
        return (
            entry_mod._hybrid_qvec(spark, sf_dir),
            entry_mod._emb_docs(spark, sf_dir),
            entry_mod._docs_tok(spark, sf_dir),
            entry_mod._doc_shingle_sets(spark, sf_dir),
            entry_mod._lsm_merge_bm25(spark, sf_dir),
        )

    caches = (
        entry_mod._QVEC_CACHE, entry_mod._EMB_CACHE, entry_mod._TOKDOCS_CACHE,
        entry_mod._SHINGLE_SETS_CACHE, entry_mod._LSM_SEG_TABLES_CACHE,
    )
    try:
        first = snapshot()
        keys1 = [
            {k for k in c if k[1] == sf_dir} for c in caches
        ]
        assert all(len(ks) == 1 for ks in keys1)
        for t in ("embeddings", "documents"):
            st = os.stat(f"{sf_dir}/{t}.parquet")
            os.utime(
                f"{sf_dir}/{t}.parquet",
                ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000),
            )
        second = snapshot()
        keys2 = [
            {k for k in c if k[1] == sf_dir} for c in caches
        ]
        for ks1, ks2, c in zip(keys1, keys2, caches):
            # superseded entry evicted, fresh entry present under new key
            assert ks2 and ks2.isdisjoint(ks1), (ks1, ks2)
        # fresh DataFrames were built (not the memoized objects)
        for a, b in zip(first[1:], second[1:]):
            assert a is not b
    finally:
        for c in caches:
            for k in [k for k in c if k[1] == sf_dir]:
                del c[k]


# --- gopher top-token rule: in-row sorted-run fold ≡ mode frequency ---------

def test_gopher_top_token_fold_equals_python_mode(spark):
    """The repetition rule's in-row fold (longest equal-run in the
    sorted token array) must equal the token mode frequency the old
    explode → groupBy formulation computed — including ties, repeats at
    both array ends, and single-token docs."""
    from collections import Counter

    from comet_spark.operators.quality import gopher_rules

    docs = [
        (1, "a b a c a"),            # clear mode a=3
        (2, "x x y y"),              # tie 2/2
        (3, "solo"),                 # single token
        (4, "z z z z z"),            # all equal
        (5, "m n o p q r"),          # all distinct
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["id"]: r["top_token_frac"]
        for r in gopher_rules(df, min_words=1).collect()
    }
    from comet_spark.operators.bm25 import tokenize_py

    for did, text in docs:
        toks = tokenize_py(text)
        want = round(Counter(toks).most_common(1)[0][1] / len(toks), 6)
        assert out[did] == want, (did, out[did], want)


# --- tfidf weights_df path ≡ inline weight computation -----------------------

def test_tfidf_weights_df_equals_inline(spark):
    from comet_spark.operators.tfidf import tfidf_cosine_pairs, tfidf_weights

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry apple"),
            (2, "apple banana cherry date"),
            (3, "elderberry fig grape"),
            (4, "apple banana cherry apple date"),
        ],
        "doc_id bigint, text string",
    )
    inline = sorted(
        tuple(r) for r in tfidf_cosine_pairs(docs, min_sim=0.1).collect()
    )
    via_w = sorted(
        tuple(r)
        for r in tfidf_cosine_pairs(
            docs, min_sim=0.1, weights_df=tfidf_weights(docs)
        ).collect()
    )
    assert inline and inline == via_w
    # r14: handed-in norms (the second cacheable side table) too
    from comet_spark.operators.tfidf import tfidf_norms

    w = tfidf_weights(docs)
    via_wn = sorted(
        tuple(r)
        for r in tfidf_cosine_pairs(
            docs, min_sim=0.1, weights_df=w, norms_df=tfidf_norms(w)
        ).collect()
    )
    assert inline == via_wn


# --- cms exact probe counts: in-row array filter ≡ exploded count -----------

def test_cms_inrow_exact_counts_match_exploded(spark):
    import __spark_entry__ as entry_mod

    sf_dir = SF_DIR_SMALL
    docs = entry_mod._docs_tok(spark, sf_dir)
    exploded = {
        r["term"]: r["n"]
        for r in docs.select(F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(*entry_mod.CMS_PROBES))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["term"]: r["exact_count"]
        for r in entry_mod.queries()["cms_term_counts"](spark, sf_dir).collect()
    }
    assert set(got) == set(entry_mod.CMS_PROBES)
    for t in entry_mod.CMS_PROBES:
        assert got[t] == exploded.get(t, 0), t
