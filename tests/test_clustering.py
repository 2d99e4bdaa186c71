"""The production IVF scorer's nprobe knob against the recall curve."""

from __future__ import annotations


def test_ivf_search_np_nprobe_matches_recall_curve(spark):
    """VERDICT r5 ask #7: the production Arrow/numpy scorer's nprobe
    knob must reproduce the ann_recall_multiprobe tuning curve — same
    centroids (vec_id < 8), same query sample (vec_id % 100 == 0), so
    recall@5 per nprobe level must agree exactly, making the committed
    curve the calibration table for the production parameter."""
    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.operators.similarity import (
        cosine_topk,
        ivf_search_np,
    )
    from glamira_batch_processing_spark.plans.registry import table
    from glamira_batch_processing_spark.plans.retrieval_queries import (
        ann_recall_multiprobe,
    )
    from tests.conftest import SF_SMALL

    e = table(spark, SF_SMALL, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    queries = e.filter(pred).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = (
        cosine_topk(queries, e, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    cpdf = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec"))
        .toPandas()
    )
    curve = ann_recall_multiprobe(spark, SF_SMALL).collect()
    expected = {}  # nprobe -> mean recall over queries
    for p in {r["nprobe"] for r in curve}:
        vals = [r["recall_at_k"] for r in curve if r["nprobe"] == p]
        expected[p] = sum(vals) / len(vals)

    for p in sorted(expected):
        got = ivf_search_np(e, cpdf, pred, k=5, nprobe=p).collect()
        hits: dict[int, int] = {}
        for r in got:
            if r["neighbor_id"] in truth.get(r["query_id"], ()):
                hits[r["query_id"]] = hits.get(r["query_id"], 0) + 1
        mean_recall = sum(hits.get(q, 0) / 5.0 for q in truth) / len(truth)
        assert abs(mean_recall - expected[p]) < 1e-9, (p, mean_recall, expected[p])
    # and the curve itself is monotone in nprobe
    levels = sorted(expected)
    assert all(
        expected[a] <= expected[b] + 1e-12
        for a, b in zip(levels, levels[1:])
    )
