"""Exact (flat) k-NN scan and multi-query aggregation.

Re-expresses the reference's flat index search (reference
``flat_index_search.go:109-294``): exhaustive distance scan with optional
candidate prefilter and distance threshold, ascending sort, top-k; for
multi-query batches, per-query top-k results are aggregated per document
(Sum/Max/Mean/Count, reference ``aggregation.go:94-255``), re-sorted
ascending and cut to k again.

Spark shape (and why it scales):
- the query side is a tiny DataFrame → ``broadcast`` cross join; the docs
  side streams through whole-stage codegen computing the distance as a
  native array expression (no Python, no extra shuffle).
- prefilters are plain ``filter`` predicates applied *before* the join, so
  Catalyst pushes them into the parquet scan (PushedFilters), and the
  distance is never computed for pruned rows.
- top-k per query uses the salted two-stage window from
  :mod:`comet_spark.operators.topk`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from comet_spark.functions.vector import distance, to_double_array
from comet_spark.operators.topk import topk, topk_per_group

__all__ = ["knn", "knn_aggregate", "SCORE_AGGS"]


def knn(
    docs: DataFrame,
    queries: DataFrame | None,
    *,
    k: int = 10,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vector",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    threshold: float | None = None,
    prefilter: Column | None = None,
    round_to: int | None = 6,
    literal_query: Sequence[float] | None = None,
) -> DataFrame:
    """Per-query exact top-k: returns ``(qid, id, score)``.

    ``threshold`` keeps only ``score <= threshold`` when set and > 0
    (reference ``flat_index_search.go:267-271``). ``prefilter`` is the
    candidate predicate (metadata prefilter / document-ID filter, reference
    ``document_filter.go``) evaluated on ``docs`` before any distance math.
    ``literal_query`` (r14) is the driver-held vector of ONE query
    (``queries`` is then ignored): the distance is computed against a
    FOLDED ARRAY LITERAL instead of a one-row broadcast cross join —
    same doubles through the identical zip_with/aggregate expression,
    but the plan loses a BroadcastExchange + BroadcastNestedLoopJoin
    (one whole AQE broadcast wave per query at serving time; guide §2.4
    "remove shuffles outright"). With a single query the per-qid window
    top-k (partial/final WindowGroupLimit around an Exchange) also
    collapses to a global ``TakeOrderedAndProject`` — same rows, one
    fewer shuffle (the qid partitioning is a constant).
    """
    if prefilter is not None:
        docs = docs.filter(prefilter)
    docs = docs.filter(F.col(vec_col).isNotNull())

    d = docs.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("__v"))

    if literal_query is not None:
        qarr = F.array(*[F.lit(float(x)) for x in literal_query])
        score = distance(metric, F.col("__v"), qarr)
        if round_to is not None:
            score = F.round(score, round_to)
        scored = d.select(
            F.lit(0).cast("bigint").alias("qid"), "id", score.alias("score")
        )
    else:
        q = queries.select(
            F.col(qid_col).alias("qid"), to_double_array(qvec_col).alias("__qv")
        )

        score = distance(metric, F.col("__v"), F.col("__qv"))
        if round_to is not None:
            score = F.round(score, round_to)

        scored = d.crossJoin(F.broadcast(q)).select("qid", "id", score.alias("score"))

    # cosine of a zero vector is NULL (reference rejects zero vectors,
    # distance.go:252-255). Do NOT pre-filter on score.isNotNull() OR the
    # threshold: ANY filter directly over the join becomes part of the
    # BroadcastNestedLoopJoin CONDITION, and the whole distance
    # expression is then evaluated TWICE per pair (once in the condition,
    # once in the projection — Catalyst doesn't CSE across them;
    # measured 2x on knn_batch100). Instead sort NULLs LAST so they
    # never claim a top-k slot, and filter after the rank cut (k rows
    # per query, not N). Post-cut thresholding is semantics-preserving
    # because the threshold is monotone in the sort order: the k
    # ascending survivors of the unfiltered scan, minus those above the
    # threshold, ARE the top-k of the thresholded scan. The <= threshold
    # predicate also subsumes isNotNull (NULL fails any comparison).
    order = [F.col("score").asc_nulls_last(), F.col("id").asc()]
    out = (
        topk(scored, order, k)
        if literal_query is not None
        else topk_per_group(scored, ["qid"], order, k)
    )
    post = (
        F.col("score") <= threshold
        if threshold is not None and threshold > 0
        else F.col("score").isNotNull()
    )
    return out.filter(post).select("qid", "id", "score")


SCORE_AGGS = {
    "sum": F.sum,
    "max": F.max,
    "mean": F.avg,
    "count": F.count,
}


def knn_aggregate(
    per_query: DataFrame,
    *,
    k: int = 10,
    agg: str = "sum",
    ascending: bool = True,
    round_to: int | None = 6,
) -> DataFrame:
    """Cross-query score aggregation → ``(id, score)``.

    Mirrors reference semantics: aggregate over the per-query *top-k*
    result lists (documents absent from a query's top-k contribute
    nothing), then sort (asc for distances, desc for text relevance) and
    cut to k (reference ``flat_index_search.go:127-164``,
    ``aggregation.go:107-255``).
    """
    try:
        fn = SCORE_AGGS[agg]
    except KeyError:
        raise ValueError(f"unknown aggregation {agg!r}; one of {sorted(SCORE_AGGS)}")
    score = fn("score")
    if round_to is not None:
        score = F.round(score, round_to)
    out = per_query.groupBy("id").agg(score.alias("score"))
    order = [F.col("score").asc() if ascending else F.col("score").desc(), F.col("id").asc()]
    return topk(out, order, k)
