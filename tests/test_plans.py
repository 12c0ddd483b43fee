"""Physical-plan assertions — the scale story has to show up in the plan:
pushed filters at the scan, broadcast joins for small sides, top-k as
TakeOrderedAndProject, no Python in JVM-only paths."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry_mod
from comet_spark.operators.knn import knn
from tests.conftest import SF_DIR_SMALL


def _plan(df) -> str:
    """The executed plan's text with every scan's full ``Location``. A
    scan node renders its metadata at the length in force when the plan
    is built, and the default (100 chars) cuts a layout path short in a
    deeply nested checkout, so the plan is built with that cap lifted."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    prev = conf.get(key, None)
    conf.set(key, str(1 << 20))
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"), "label"
    )


def test_prefilter_pushed_to_scan(spark, emb):
    q = spark.createDataFrame([(0, [0.0] * 64)], "qid bigint, qvec array<double>")
    df = knn(emb, q, k=10, prefilter=F.col("label").isin([1, 3]))
    plan = _plan(df)
    assert "PushedFilters" in plan and "label" in plan.split("PushedFilters")[1][:200]


def test_single_query_topk_is_take_ordered(spark, emb):
    from comet_spark.operators.topk import topk

    q = spark.createDataFrame([(0, [0.0] * 64)], "qid bigint, qvec array<double>")
    scored = knn(emb, q, k=0)  # no limit yet
    df = topk(scored, [F.col("score").asc(), F.col("id").asc()], 10)
    assert "TakeOrderedAndProject" in _plan(df)


def test_knn_query_side_broadcast(spark, emb):
    q = spark.createDataFrame([(0, [0.0] * 64)], "qid bigint, qvec array<double>")
    plan = _plan(knn(emb, q, k=10))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_shipping_priority_broadcasts_dims(spark):
    df = entry_mod.queries()["shipping_priority"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact table


def test_knn_plan_has_no_python_udf(spark, emb):
    q = spark.createDataFrame([(0, [0.0] * 64)], "qid bigint, qvec array<double>")
    plan = _plan(knn(emb, q, k=10))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_query_terms_broadcast(spark):
    from comet_spark.operators.bm25 import BM25

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    bm = BM25(docs, id_col="doc_id", text_col="text")
    plan = _plan(bm.score("spark table join", k=10))
    assert "BroadcastHashJoin" in plan


def test_per_group_topk_partial_limit_before_exchange(spark, emb):
    """Spark's rank-limit pushdown must give us the two-stage top-k: a
    partial WindowGroupLimit BEFORE the exchange (local pruning), then the
    final one after — i.e. only ~k rows per group per partition shuffle."""
    from comet_spark.operators.topk import topk_per_group

    q = spark.createDataFrame(
        [(i, [0.0] * 64) for i in range(3)], "qid bigint, qvec array<double>"
    )
    df = knn(emb, q, k=10)
    plan = _plan(df)
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in pre and "WindowGroupLimit" in post


def test_ivf_nprobe_partition_pruning(spark):
    """The IVF driver query must run off the on-disk partitionBy(cluster_id)
    layout, and the nprobe filter must land as PartitionFilters — the scan
    never reads the other lists' files (ivf_index_search.go:277-301)."""
    df = entry_mod.queries()["ivf_knn_nprobe2"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "cluster_id" in seg and "IN" in seg.upper()


def test_recluster_layout_partition_pruning(spark):
    """The maintenance queries must serve off the post-compaction
    partition-pruned layout: both the plain nprobe query and the hybrid
    builder's vector leg read the recluster-compacted export with the
    probe set as PartitionFilters — never the other lists' files."""
    for name in ("ivf_recluster_knn", "hybrid_recluster_rrf"):
        df = entry_mod.queries()[name](spark, SF_DIR_SMALL)
        plan = _plan(df)
        assert "ivf_layout.parquet" in plan, name
        # in the scan node text PartitionFilters directly follows the
        # Location bracket that names the layout path
        pf = plan.split("ivf_layout.parquet", 1)[1].split("PartitionFilters:", 1)[1][:200]
        assert "cluster_id" in pf and "IN" in pf.upper(), (name, pf)


def test_bm25_bucketed_postings_default_path(spark):
    """The driver BM25 queries run off the PERSISTED term-bucketed
    postings table (VERDICT r05 Missing #2): the scan is bucketed, the
    constant query's literal terms push into it as an isin (bucket
    pruning — only the terms' buckets are read), and the postings side
    reaches the score aggregation with no Exchange; the only shuffle in
    the query is the final score aggregation itself (r14: the constant
    single query carries no qid column into the aggregation — the
    exchange keys on id alone)."""
    import re

    df = entry_mod.queries()["bm25_single"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    scan = plan.split("FileScan parquet spark_catalog.default.bm25_postings")[1][:800]
    assert "Bucketed: true" in scan
    assert "In(term" in scan  # literal query terms pushed into the scan
    assert re.search(r"SelectedBucketsCount: \d+ out of \d+", scan)
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges and all(e == "id" for e in exchanges), exchanges


def test_bm25_appended_postings_keep_pruned_plan(spark):
    """bm25_append_score serves from a TWO-segment appended index
    (BM25.append): the postings scan must stay bucketed + literal-term
    pruned exactly like the single-segment path — growing the index must
    not cost the query plan anything. Allowed exchanges: the final
    id aggregation, plus hashpartitioning(term) (the per-term df count
    is bucket-local on this layout, so none is expected)."""
    import re

    df = entry_mod.queries()["bm25_append_score"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    scan = plan.split("FileScan parquet spark_catalog.default.bm25_postings")[1][:800]
    assert "Bucketed: true" in scan
    assert "In(term" in scan
    assert re.search(r"SelectedBucketsCount: \d+ out of \d+", scan)
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges and set(exchanges) <= {"id", "term"}, exchanges
    assert "id" in exchanges  # the final score aggregation (r14: no qid)
    # and the artifact really is the appended two-segment layout, not a
    # rebuilt single-segment one
    base = f"{entry_mod._art_dir(SF_DIR_SMALL)}/bm25_append"
    assert spark.read.parquet(f"{base}/stats").count() == 2


def test_bm25_compacted_postings_regain_single_segment_plan(spark):
    """bm25_compact_score serves from a build→append×3→COMPACTED index
    (BM25.compact): the postings scan must be bucketed + literal-term
    pruned, and the only Exchange left in the plan is the final score
    aggregation, exactly the fresh-build bm25_single shape (keyed on id
    alone, r14)."""
    import re

    df = entry_mod.queries()["bm25_compact_score"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    scan = plan.split("FileScan parquet spark_catalog.default.bm25_postings")[1][:800]
    assert "Bucketed: true" in scan
    assert "In(term" in scan
    assert re.search(r"SelectedBucketsCount: \d+ out of \d+", scan)
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges and all(e == "id" for e in exchanges), exchanges
    # and the artifact really is the compacted shape: ONE stats row, one
    # consolidated file per bucket
    base = f"{entry_mod._art_dir(SF_DIR_SMALL)}/bm25_compact"
    assert spark.read.parquet(f"{base}/stats").count() == 1
    import glob

    files = [
        f for f in glob.glob(f"{base}/postings/*")
        if not f.endswith("_SUCCESS") and ".crc" not in f
    ]
    assert len(files) <= entry_mod._BM25_BUCKETS, files


def test_bm25_delete_vector_keeps_pruned_plan(spark):
    """bm25_tiered_delete_score serves under a LIVE delete vector: the
    postings scan that feeds both the match and the live per-term df
    count must be bucketed and literal-term-pruned; the extra exchanges
    the delete path is allowed are a term exchange and the anti-join's
    tiny vector side, never a corpus-wide shuffle."""
    import re

    df = entry_mod.queries()["bm25_tiered_delete_score"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    scans = plan.split("FileScan parquet spark_catalog.default.bm25_postings")
    assert len(scans) >= 2  # at least one postings scan
    for scan in scans[1:]:
        scan = scan[:800]
        assert "Bucketed: true" in scan
        assert "In(term" in scan
        assert re.search(r"SelectedBucketsCount: \d+ out of \d+", scan)
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges and set(exchanges) <= {"term", "id"}, exchanges
    assert "id" in exchanges  # the final score aggregation (r14: no qid)
    # the artifact really is the tiered shape with a RETAINED vector
    base = f"{entry_mod._art_dir(SF_DIR_SMALL)}/bm25_tiered_delete"
    import os

    assert os.path.exists(f"{base}/deletes")


def test_simhash_neardup_no_cartesian(spark):
    """Pigeonhole banding must make the candidate join an EQUI-join on
    (seg, segval) — an all-pairs cartesian/BNLJ would be O(N²) at scale
    (VERDICT r01 item 1)."""
    df = entry_mod.queries()["simhash_neardup_pairs"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_grid_no_cartesian_no_collect(spark):
    """The grid all-pairs join is one shuffle keyed on the grid cell +
    FlatMapGroupsInPandas — no cartesian, no corpus broadcast, and by
    construction no driver collect (the operator never calls .collect())."""
    import inspect

    from comet_spark.operators import similarity

    df = entry_mod.queries()["neardup_cosine_pairs"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    src = inspect.getsource(similarity.cosine_pairs_grid)
    assert ".collect()" not in src and "broadcast(" not in src


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Co-located joins (SCALE.md): bucketing both tables on the join key
    removes the shuffle — SortMergeJoin with no Exchange on either side."""
    li = spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    # default warehouse dir (spark-warehouse/, gitignored) — warehouse.dir
    # is a static conf and can't be set per-test
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("ord_b")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(
            spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_pq_rescore_is_broadcast_semijoin_no_python_scoring(spark, emb):
    """ADC+R: the exact rerank must reach the corpus through a broadcast
    semi-join of the R-id shortlist (never a shuffle of the corpus), and
    the rescoring math must stay JVM-side."""
    from comet_spark.operators.ann import PQIndex

    pq = PQIndex.train(emb, m=4, nbits=4, max_iter=3)
    codes = pq.encode(emb)
    qvec = [float(x) for x in emb.first()["vector"]]
    plan = _plan(pq.search(codes, qvec, k=5, rescore=20, vectors=emb))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the exact-distance side has no Python evaluation (codes encode is
    # Python, but it's upstream of the shortlist, not the rescore join)
    rescore_part = plan.split("LeftSemi")[0]
    assert "BatchEvalPython" not in rescore_part


def test_int8_storage_scan_has_no_python(spark, emb):
    """The quantized-storage scan dequantizes inside the Catalyst
    expression — pure JVM, whole plan."""
    from comet_spark.operators.scalar_quant import ScalarQuantizedIndex

    ix = ScalarQuantizedIndex.build(emb, "int8")
    qvec = [float(x) for x in emb.first()["vector"]]
    plan = _plan(ix.search(qvec, k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_winnow_extraction_no_exchange(spark):
    """Fingerprint extraction is per-row array algebra — the plan up to
    the (id, fp) pairs must contain no shuffle at all."""
    from comet_spark.operators.fingerprint import winnow_fingerprints

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    plan = _plan(winnow_fingerprints(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_sample_scan_stage_no_shuffle(spark):
    """The md5-bucket predicate evaluates inside the scan's codegen stage:
    no Exchange, no Python worker."""
    from comet_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    plan = _plan(hash_sample(docs, id_col="doc_id", rates=30, salt="x"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1) Filter" in plan  # fused into the single codegen'd scan stage


def test_disjunctive_predicates_pushed_to_both_scans(spark):
    """Q19 shape: Catalyst factors the OR-of-ANDs so each join side's
    members reach its own parquet scan as DataFilters."""
    df = entry_mod.queries()["disjunctive_revenue"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    scans = [s for s in plan.split("FileScan parquet") if "DataFilters" in s]
    li_scan = [s for s in scans if "l_quantity" in s.split("DataFilters")[1][:400]]
    part_scan = [s for s in scans if "p_brand" in s.split("DataFilters")[1][:400]]
    assert li_scan and part_scan


def test_order_priority_exists_is_semi_join(spark):
    """Q4 shape: the EXISTS must decorrelate to one LeftSemi join — no
    distinct-then-inner (double shuffle) and no correlated re-scan."""
    df = entry_mod.queries()["order_priority_check"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert plan.count("Scan parquet") == 2  # orders + lineitem, once each


def test_supplier_cnt_anti_join_broadcasts(spark):
    """Q16 shape: NOT IN over a tiny deficit-supplier set must be a
    broadcast anti join, never a shuffled one."""
    df = entry_mod.queries()["supplier_cnt_by_part"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_large_orders_single_fact_pass(spark):
    """Q18 shape (r13): the HAVING pre-aggregation already holds each
    qualifying order's sum, so lineitem is scanned ONCE — no semi-join
    back into the fact, no second aggregation pass over it."""
    df = entry_mod.queries()["large_orders"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "LeftSemi" not in plan
    li_scans = [
        s for s in plan.split("FileScan parquet") if "lineitem" in s[:400]
    ]
    assert len(li_scans) == 1, plan


def test_cheapest_supplier_window_decorrelation(spark):
    """Q2 shape: the correlated min subquery must run as a window min —
    lineitem scanned ONCE (no correlated re-scan, no self-join back) with
    exactly one exchange for the window partition key; both dims
    broadcast."""
    df = entry_mod.queries()["cheapest_supplier"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "Window" in plan
    li_scans = [
        s for s in plan.split("FileScan parquet") if "lineitem" in s[:400]
    ]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}x"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must broadcast, never shuffle


def test_knn_distance_not_in_join_condition(spark):
    """Regression (r04): a score.isNotNull() pre-filter over the broadcast
    cross join folds the WHOLE distance expression into the
    BroadcastNestedLoopJoin condition, evaluating it twice per pair
    (Catalyst does not CSE between a join condition and the projection).
    The join must stay condition-free; NULL scores are excluded by
    nulls-last ordering + a post-cut filter instead."""
    import pyspark.sql.functions as F

    from comet_spark.operators.knn import knn
    from tests.conftest import SF_DIR_SMALL

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qdf = emb.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("vector").alias("qvec")
    )
    for kwargs in ({}, {"threshold": 5.0}):  # r05: threshold path too —
        # the pre-cut threshold filter folded into the join condition the
        # same way the isNotNull pre-filter did
        plan = (
            knn(emb, qdf, k=10, metric="l2", **kwargs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for line in plan.splitlines():
            if "Join condition" in line:
                assert "aggregate(" not in line and "zip_with" not in line, line


def test_docs_par_no_exchange_when_input_split(spark, tmp_path):
    """The local-bench equalizer in _docs_par must be GATED on actual
    scan parallelism: when the documents input already has >= cores
    partitions (the cluster case — many files), no repartition Exchange
    may be injected, so driver query plans are the 100 TB plans
    verbatim. The single-file local corpus still gets fanned out."""
    import __spark_entry__ as entry_mod

    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    sf_dir = str(tmp_path)
    # many small files -> scan parallelism >= cores without any shuffle
    docs.repartition(par).write.parquet(f"{sf_dir}/documents.parquet")

    split = entry_mod._docs_par(spark, sf_dir)
    assert split.rdd.getNumPartitions() >= par
    assert "Exchange" not in _plan(split)

    # the under-split local corpus (one file) still equalizes
    local = entry_mod._docs_par(spark, SF_DIR_SMALL)
    assert local.rdd.getNumPartitions() >= par


def test_mixture_sample_is_pushdown_scan(spark):
    """The mixture draw must stay a pure per-row predicate over the scan
    (like hash_sample): no Exchange, no Python — the only heavier work
    is the tiny driver-side groupBy count that sizes the rates."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["mixture_sample_lang"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_top_frac_single_shuffle(spark):
    """Rank + group-count share ONE window partitioning: exactly one
    shuffle on the group key feeds both."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["quality_top_frac"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    # exactly one hash-partitioning exchange (the group key). The
    # RoundRobin repartition is _docs_par's single-file local equalizer,
    # gated off on a many-file corpus (test_docs_par_no_exchange_...).
    n_hash = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "ReusedExchange" not in line
    )
    assert n_hash == 1, plan


def test_ivf_stream_layout_partition_pruning(spark):
    """The STREAM-BUILT IVF layout (r10) must serve exactly like the
    batch-built one: both the plain pruned query and the hybrid's
    vector leg scan the exported partitionBy(cluster_id) layout with
    the probe set as PartitionFilters — the stream provenance changes
    nothing about the serving plan."""
    for name in ("ivf_stream_knn", "hybrid_stream_rrf"):
        df = entry_mod.queries()[name](spark, SF_DIR_SMALL)
        plan = _plan(df)
        assert "ivf_stream/layout.parquet" in plan, name
        after_scan = plan.split("layout.parquet", 1)[1]
        # a readable assert, not an IndexError, when pruning regresses
        assert "PartitionFilters:" in after_scan, (name, plan)
        pf = after_scan.split("PartitionFilters:", 1)[1][:200]
        assert "cluster_id" in pf and "IN" in pf.upper(), (name, pf)


def test_ivf_live_serving_view_partition_pruning(spark):
    """The stream-MAINTAINED serving view (r11: full_v{CURRENT} ∪
    committed tail batches) must prune every component by cluster_id:
    the probe set lands as PartitionFilters on BOTH the full layout
    scan and the tail scan — maintenance-under-ingest changes nothing
    about the serving plan."""
    df = entry_mod.queries()["ivf_live_refresh_knn"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "ivf_live/index" in plan, plan
    scans = [
        seg for seg in plan.split("Location:")[1:]
        if "ivf_live/index" in seg.splitlines()[0]
    ]
    assert len(scans) >= 2, plan  # full layout + at least one tail batch
    for seg in scans:
        assert "PartitionFilters:" in seg, (seg[:400],)
        pf = seg.split("PartitionFilters:", 1)[1][:200]
        assert "cluster_id" in pf and "IN" in pf.upper(), pf


def test_store_live_read_final_phase_is_codegen_topk(spark):
    """store_live_read_knn's 'final' phase is served LIVE off the
    merged view: the plan must keep the flat-scan shape — rank-limit
    pushdown (partial WindowGroupLimit before the exchange) for the
    top-k, distance in codegen, no Python anywhere."""
    df = entry_mod.queries()["store_live_read_knn"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan and ", Partial" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_ivf_crud_serving_view_plan(spark):
    """The CRUD serving view (r12) keeps the scale shape: the probe
    filter still reaches the committed full layout as PartitionFilters
    (it pushes through the delete left-join and the tail-id anti-join),
    the tail side's newest-wins window is the only unpruned component
    (bounded by the tail, never the corpus), every shuffle-side join
    input is broadcast, and nothing falls back to Python."""
    df = entry_mod.queries()["ivf_crud_live_knn"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "ivf_crud/index" in plan, plan
    full_scans = [  # path may be tail-truncated in the tree string
        seg for seg in plan.split("Location:")[1:]
        if "ivf_crud/index/full_v" in seg.splitlines()[0]
    ]
    assert full_scans, plan
    for seg in full_scans:
        assert "PartitionFilters:" in seg, (seg[:400],)
        pf = seg.split("PartitionFilters:", 1)[1][:200]
        assert "cluster_id" in pf and "IN" in pf.upper(), pf
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_doc_stream_hybrid_plan(spark):
    """hybrid_doc_stream_rrf (r13): the vector leg's cluster pruning
    still reaches the committed full layout as PartitionFilters THROUGH
    the metadata-prefilter semi-join and the CRUD joins, and the whole
    fused plan (IVF leg + merged-view BM25 leg + RRF) keeps every
    expression JVM-side — no Python anywhere."""
    df = entry_mod.queries()["hybrid_doc_stream_rrf"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "doc_stream/index" in plan, plan
    full_scans = [
        seg for seg in plan.split("Location:")[1:]
        if "doc_stream/index/full_v" in seg.splitlines()[0]
    ]
    assert full_scans, plan
    for seg in full_scans:
        assert "PartitionFilters:" in seg, (seg[:400],)
        pf = seg.split("PartitionFilters:", 1)[1][:200]
        assert "cluster_id" in pf and "IN" in pf.upper(), pf
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_pq_live_serving_plan_is_codegen_adc(spark):
    """pq_live_adc_knn serves the stream-maintained codes with the SAME
    broadcast-LUT ADC shape as the batch-built pq_adc_knn: the LUT is
    literal arrays folded in codegen — no Python, top-k via
    TakeOrderedAndProject over both components."""
    df = entry_mod.queries()["pq_live_adc_knn"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "pq_live/index" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfpq_live_serving_plan_is_pruned_codegen_adc(spark):
    """ivfpq_live_adc_knn (r13) serves the stream-maintained residual
    codes with the batch-built IVFPQ shape: cluster-pruned scan of both
    components (the cluster_id isin(probes) filter reaches the parquet
    scans), per-cluster LUTs broadcast, nested element_at score in
    codegen — no Python, top-k via TakeOrderedAndProject."""
    df = entry_mod.queries()["ivfpq_live_adc_knn"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "ivfpq_live/index" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the probe filter prunes the codes scans (pushed, not post-join)
    scans = [
        seg for seg in plan.split("Location:")[1:]
        if "ivfpq_live/index" in seg.splitlines()[0]
    ]
    assert scans, plan
    assert any(
        "cluster_id" in seg.split("PushedFilters:", 1)[1][:200]
        for seg in scans if "PushedFilters:" in seg
    ), plan


def test_pq_crud_serving_plan_is_codegen_adc(spark):
    """pq_crud_live_adc (r13) keeps the broadcast-LUT ADC codegen shape
    through the CRUD joins: the LUT folds as literal arrays in codegen
    (no Python anywhere), the newest-wins window and delete anti-join
    are bounded by the TAIL (the full codes side only sheds shadowed
    ids via the tail-id anti-join), and top-k stays
    TakeOrderedAndProject."""
    df = entry_mod.queries()["pq_crud_live_adc"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "pq_crud/index" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # the corpus-sized component (full codes) must never be the window
    # input: the only Window in the plan partitions over tail rows
    win_segs = plan.split("Window")[1:]
    assert win_segs, plan
    assert not any("full_v" in seg[:2000] for seg in win_segs[:1]), plan


def test_hnsw_crud_topk_plan_is_codegen(spark):
    """hnsw_crud_live_topk's serving tail (exact rescore of the beam
    against the store's newest-wins merged view) stays JVM-side: the
    alive/newest resolution is the store's window + anti-join, the
    candidate semi-join broadcasts, distance is codegen, top-k is
    TakeOrderedAndProject — no Python. (The beam itself is the Arrow
    graph-walk path, priced per ef, not per corpus.)"""
    df = entry_mod.queries()["hnsw_crud_live_topk"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_hnsw_compact_topk_plan_is_codegen(spark):
    """hnsw_live_compact_topk's serving phase (exact scoring over the
    exported beam) stays JVM-side: broadcast candidate join + codegen
    distance + TakeOrderedAndProject, no Python."""
    df = entry_mod.queries()["hnsw_live_compact_topk"](spark, SF_DIR_SMALL)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
