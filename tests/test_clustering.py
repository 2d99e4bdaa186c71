"""kmeans_fit: convergence laws + trained centroids improve IVF recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.operators.clustering import (
    kmeans_fit,
    seed_centroids,
)


def _blobs(spark, n_per=40, dim=8):
    """Three well-separated deterministic blobs."""
    centers = [np.full(dim, 0.0), np.full(dim, 10.0), np.full(dim, -10.0)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for i in range(n_per):
            # deterministic jitter in [-0.5, 0.5)
            jit = np.array(
                [(((vid * 31 + d * 7) % 97) / 97.0) - 0.5 for d in range(dim)]
            )
            rows.append((vid, (c + jit).tolist()))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_converges_and_separates_blobs(spark):
    df = _blobs(spark)
    cents, inertia, rounds = kmeans_fit(df, k=3, n_iter=15)
    assert cents.shape == (3, 8)
    assert rounds <= 15
    # converged centroids sit on the blob centers (within jitter radius)
    found = sorted(round(float(c.mean())) for c in cents)
    assert found == [-10, 0, 10]
    # inertia at the solution is the jitter variance only: well below
    # a single inter-blob distance
    assert inertia < 100.0


def test_kmeans_inertia_monotone(spark):
    df = _blobs(spark)
    inertias = []
    for n in (1, 2, 4, 8):
        _, inertia, _ = kmeans_fit(df, k=3, n_iter=n, tol=0.0)
        inertias.append(inertia)
    assert all(a >= b - 1e-9 for a, b in zip(inertias, inertias[1:]))


def test_kmeans_empty_input_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kmeans_fit(df, k=2)


def test_trained_centroids_make_ivf_exact_on_clustered_data(spark):
    """The point of kmeans_fit: on cluster-structured data the trained
    centroids align IVF buckets with the true clusters, so nprobe=1
    recall vs exact top-k is perfect. (On structureless corpora the
    training can't help — that's inherent to IVF, not the trainer.)"""
    import pandas as pd

    from glamira_batch_processing_spark.operators.similarity import ivf_search_np

    dim = 8
    centers = []
    for axis, sign in ((0, 1.0), (1, 1.0), (0, -1.0)):
        c = np.zeros(dim)
        c[axis] = 10.0 * sign
        centers.append(c)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(30):
            jit = np.array(
                [(((vid * 31 + d * 7) % 97) / 97.0 - 0.5) * 0.2 for d in range(dim)]
            )
            rows.append((vid, (c + jit).tolist()))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # exact cosine top-5 per query, computed directly in numpy
    V = np.array([r[1] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    np.fill_diagonal(sims, -np.inf)
    queries = list(range(0, vid, 10))
    truth = {q: set(np.argsort(-sims[q])[:5].tolist()) for q in queries}

    cents, _, _ = kmeans_fit(vecs, k=3, n_iter=10)
    pdf = pd.DataFrame(
        {"centroid_id": range(len(cents)), "cvec": [list(c) for c in cents]}
    )
    res = ivf_search_np(vecs, pdf, F.col("vec_id") % 10 == 0, k=5, nprobe=1)
    got: dict = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    per_q = [len(truth[q] & got.get(q, set())) / 5 for q in queries]
    assert sum(per_q) / len(per_q) == 1.0


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
