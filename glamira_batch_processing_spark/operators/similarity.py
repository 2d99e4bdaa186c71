"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact, O(queries x corpus). Fine when the
  query set is small or as the within-bucket scorer.
- IVF (inverted-file) bucketed ANN: assign every vector to its nearest
  of K centroids (one broadcast join), then search only the query's
  bucket — the 100 TB path: candidate set shrinks by ~K, and bucket
  assignment is a linear scan.

Determinism: dot products are computed as an ordered left fold of
double-precision multiply-adds (F.aggregate over zip_with). The same
fold in DuckDB (list_reduce) and Python produces bit-identical doubles,
so oracle comparison needs no tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Ordered-fold double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` — same fold order, same doubles."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine, excluding self-matches.
    ``queries`` has (query_id, qvec) rows.

    The query side is broadcast (small); scoring is a map-side nested
    loop over the corpus scan — no shuffle until the final per-query
    top-k, which is a window over query_id. Each side's norm is computed
    once per row (``qnrm`` / ``cnrm``), not once per scored pair.
    """
    q = queries.withColumn("qnrm", norm(F.col("qvec")))
    c = corpus.withColumn("cnrm", norm(F.col(corpus_vec)))
    sim = dot(F.col("qvec"), F.col(corpus_vec)) / (F.col("qnrm") * F.col("cnrm"))
    j = c.join(F.broadcast(q), F.col("query_id") != F.col(corpus_id))
    scored = j.withColumn("cosine_sim", sim)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(corpus_id).alias("neighbor_id"), "rank", "cosine_sim")
    )


def cosine_topk_np(
    queries_pdf,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Vectorized exact top-k: per-partition numpy matmul via mapInPandas.

    The Arrow-batched BLAS path for dense scoring — 10-100x the
    interpreted fold when the query set is large. Trade-off: float
    summation order differs from the sequential fold, so results agree
    with :func:`cosine_topk` only to ~1e-12 relative — use the fold for
    oracle-checked queries, this for production throughput.

    ``queries_pdf``: pandas DataFrame with columns (query_id, qvec) —
    small, shipped to every task in the closure (broadcast analog).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q_ids = np.asarray(queries_pdf["query_id"], dtype=np.int64)
    Q = np.vstack([np.asarray(v, dtype=np.float64) for v in queries_pdf["qvec"]])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            ids = np.asarray(pdf["vec_id"], dtype=np.int64)
            C = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = Qn @ Cn.T  # (n_queries, batch)
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], row[mask]
                if len(cand_ids) > k:
                    part = np.argpartition(-cand_sims, k)[:k]
                    cand_ids, cand_sims = cand_ids[part], cand_sims[part]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cand_ids, "cosine_sim": cand_sims}
                )

    partial = (
        corpus.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .mapInPandas(score, out_schema)
    )
    # merge per-partition top-k -> global top-k
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def hyperplane_lsh_planes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG, so the
    same constants can be embedded as literals in any engine's SQL."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{j}_{i}".encode()).hexdigest()
            row.append(int(h[:8], 16) / 4294967296.0 - 0.5)
        planes.append(row)
    return planes


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string: bit j = (vec . plane_j >= 0).

    Vectors within ~cos(pi/n_planes) of each other likely share the
    bucket; at scale this is one projection per row + a groupBy — the
    embedding analog of minhash banding.
    """
    bits = []
    for row in planes:
        w = F.array(*[F.lit(x) for x in row])
        d = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def sql_hyperplane_bucket(vec_sql: str, planes: list[list[float]]) -> str:
    """DuckDB twin of :func:`hyperplane_bucket` (same literals, same
    fold order -> identical buckets)."""
    bits = []
    for row in planes:
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        d = (
            f"list_reduce(list_transform(range(1, len({vec_sql}) + 1), "
            f"i -> CAST({vec_sql}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {d} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def ivf_search(
    vectors: DataFrame,
    centroids: DataFrame,
    query_pred,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """Multi-probe IVF ANN: queries search their ``nprobe`` nearest
    centroid buckets instead of one.

    Measured on the synthetic 64-dim embeddings (recall@5 vs exact):
    nprobe=1 -> ~0.36, nprobe=2 -> higher, nprobe=K -> 1.0 (exact).
    Cost grows linearly with nprobe; K buckets shrink candidates ~K/nprobe.
    ``query_pred`` selects the query rows from ``vectors``.

    The ordered-fold reference the Arrow kernel :func:`ivf_search_np` is
    tested against; the registered IVF queries build on the same
    :func:`ivf_rank`.
    """
    ranked = ivf_rank(vectors, centroids)
    assigned = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec2"),
        F.col("nrm").alias("__cnrm2"),
        F.col("centroid_id").alias("__bucket"),
    )
    probes = ranked.filter(query_pred & (F.col("rn") <= nprobe)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.col("nrm").alias("__qnrm"),
        F.col("centroid_id").alias("__bucket"),
    )
    cand = probes.join(assigned, "__bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = dot(F.col("__qvec"), F.col("__cvec2")) / (F.col("__qnrm") * F.col("__cnrm2"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        cand.withColumn("cosine_sim", sim)
        # a centroid id listed twice puts one pair in two probed buckets
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_search_np(
    vectors: DataFrame,
    centroids_pdf,
    query_pred,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """Arrow/numpy IVF ANN: the production twin of the fold reference
    :func:`ivf_search`.

    Both kernels — centroid assignment and within-bucket scoring — run
    as vectorized mapInPandas (Arrow batch -> BLAS matmul / einsum), so
    nothing per-element is interpreted. The only shuffles are the
    bucket equi-join and the final per-query top-k window: identical
    plan shape to the fold variant, ~10x the scoring throughput.

    Float caveat (same as :func:`cosine_topk_np`): numpy's summation
    order differs from the sequential fold in the last ~ulp, so this
    variant backs benchmarks/production while the fold variant backs
    the bit-exact oracle row.

    ``centroids_pdf``: small pandas DataFrame (centroid_id, cvec),
    shipped in the task closure (broadcast analog). ``query_pred`` is a
    Column predicate over ``vectors`` selecting the query rows.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cent = centroids_pdf.sort_values("centroid_id")
    c_ids = np.asarray(cent["centroid_id"], dtype=np.int64)
    C = np.vstack([np.asarray(v, dtype=np.float64) for v in cent["cvec"]])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    n_probe = min(nprobe, len(c_ids))

    assign_schema = StructType(
        [
            StructField("__vid", LongType()),
            StructField("__is_q", BooleanType()),
            StructField("__probe_rank", IntegerType()),
            StructField("__bucket", LongType()),
            StructField("__nvec", ArrayType(DoubleType())),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = np.asarray(pdf["__vid"], dtype=np.int64)
            is_q = np.asarray(pdf["__is_q"], dtype=bool)
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ Cn.T  # (batch, K)
            # stable argsort on -sims: ties break toward the lower
            # centroid id (Cn rows are id-sorted), matching ivf_rank.
            order = np.argsort(-sims, axis=1, kind="stable")
            nvec_list = list(Vn)
            out_vid, out_isq, out_rank, out_bucket, out_vec = [], [], [], [], []
            for rank in range(n_probe):
                sel = is_q if rank > 0 else np.ones(len(ids), dtype=bool)
                idx = np.nonzero(sel)[0]
                if not len(idx):
                    continue
                out_vid.append(ids[idx])
                out_isq.append(is_q[idx])
                out_rank.append(np.full(len(idx), rank + 1, dtype=np.int32))
                out_bucket.append(c_ids[order[idx, rank]])
                out_vec.extend(nvec_list[i] for i in idx)
            yield pd.DataFrame(
                {
                    "__vid": np.concatenate(out_vid),
                    "__is_q": np.concatenate(out_isq),
                    "__probe_rank": np.concatenate(out_rank),
                    "__bucket": np.concatenate(out_bucket),
                    "__nvec": out_vec,
                }
            )

    # NULL vectors would crash the numpy kernels; drop them (the fold
    # variant scores them as NULL similarity, which the top-k then
    # never selects — same observable result).
    tagged = vectors.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("__vid"),
        query_pred.alias("__is_q"),
        F.col("embedding"),
    )
    # Both the probe branch and the candidate branch consume this, so
    # the assign kernel runs twice over the corpus. Measured: persisting
    # here is a wash at bench scale (Arrow ser/de of the cached rows
    # costs what the recompute costs) and corpus-sized caching is the
    # wrong default at 100 TB; the production pattern for repeated
    # query batches is materializing the assignment as a table once
    # (ivf_assign + write) and probing it, not caching inside one job.
    placed = tagged.mapInPandas(assign, assign_schema)
    probes = placed.filter(F.col("__is_q")).select(
        F.col("__vid").alias("query_id"),
        F.col("__nvec").alias("__qn"),
        "__bucket",
    )
    cands = placed.filter(F.col("__probe_rank") == 1).select(
        F.col("__vid").alias("neighbor_id"),
        F.col("__nvec").alias("__cn"),
        "__bucket",
    )
    # ANN query sets are small: broadcast the probe side so candidate
    # rows never shuffle for the join; the only remaining exchange is
    # the final top-k window over already-pruned (id, id, sim) rows.
    pairs = F.broadcast(probes).join(cands, "__bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )

    score_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__qn"]])
            N = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__cn"]])
            out = pd.DataFrame(
                {
                    "query_id": np.asarray(pdf["query_id"], dtype=np.int64),
                    "neighbor_id": np.asarray(pdf["neighbor_id"], dtype=np.int64),
                    "cosine_sim": np.einsum("ij,ij->i", Q, N),
                }
            )
            # partial top-k per query within the batch: the global
            # window only merges <= k rows per (query, batch).
            out = (
                out.sort_values(["query_id", "cosine_sim", "neighbor_id"],
                                ascending=[True, False, True])
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out

    scored = pairs.mapInPandas(score, score_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_rank(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Every (vec_id, embedding) vector paired with every (centroid_id,
    cvec) centroid (broadcast cross join), ranked per vector by cosine:
    ``rn`` 1 is the nearest centroid, ties break to the lower
    ``centroid_id``. Adds the vector's norm ``nrm``,
    the centroid's ``cnrm`` and the similarity ``c_sim``.

    The one IVF centroid-ranking step: assignment is its ``rn == 1``
    cut (:func:`ivf_assign`), multi-probe takes ``rn <= nprobe``. Each
    norm is computed once per row, not once per vector x centroid
    pair — the same ordered fold, so the doubles are identical."""
    normed = vectors.withColumn("nrm", norm(F.col("embedding")))
    cents = centroids.withColumn("cnrm", norm(F.col("cvec")))
    sim = dot(F.col("embedding"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.col("centroid_id"))
    return (
        normed.crossJoin(F.broadcast(cents))
        .withColumn("c_sim", sim)
        .withColumn("rn", F.row_number().over(w))
    )


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm, centroid_id): each vector's
    highest-cosine centroid — the rank-1 cut of :func:`ivf_rank`."""
    return (
        ivf_rank(vectors, centroids)
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "nrm", "centroid_id")
    )


def ivf_bucket_scores(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact cosine of each query against every other corpus vector in
    its IVF bucket. Both sides are (vec_id, embedding, nrm, centroid_id)
    rows as :func:`ivf_assign` gives them; the query side may carry more
    columns, which pass through. Returns query_id, qvec, qnrm,
    centroid_id, the extra query columns, neighbor_id, cvec2, cnrm2, c2
    and cosine_sim: one bucket equi-join, no pairwise work across
    buckets."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        *[c for c in queries.columns if c not in ("vec_id", "embedding", "nrm")],
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec2"),
        F.col("nrm").alias("cnrm2"),
        F.col("centroid_id").alias("c2"),
    )
    return q.join(
        c,
        (F.col("centroid_id") == F.col("c2"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn(
        "cosine_sim",
        dot(F.col("qvec"), F.col("cvec2")) / (F.col("qnrm") * F.col("cnrm2")),
    )


def top_by_cosine(scored: DataFrame, k: int, *keys: str) -> DataFrame:
    """The ``k`` highest-``cosine_sim`` rows per query (and per ``keys``),
    ranked 1..k in ``rank``; ties break to the lower ``neighbor_id``."""
    w = Window.partitionBy(*keys, "query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def semdedup_prune(
    vecs: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup.

    Assign every vector to its nearest literal centroid (scan-fused
    fold, zero shuffle), then mark a vector pruned when a lower-id
    member of the SAME cluster sits at or above cosine ``tau`` —
    the min-id survivor policy. Returns (vec_id, cluster_id, is_pruned).

    Pairwise work is an equi-self-join ON cluster_id, never all-pairs:
    with k ~ sqrt(N) clusters the quadratic term is bounded by cluster
    population, which is what makes embedding dedup feasible at
    100 TB.

    Zero vectors have no direction: their cosine is NaN, every
    threshold comparison is false, and they pass through unpruned
    (and prune nothing) — callers who consider zero embeddings
    duplicates of each other should drop or impute them first."""
    from .clustering import lloyd_assign

    assigned = vecs.withColumn(
        "cluster_id", lloyd_assign(F.col("embedding"), centroids)
    ).withColumn("nrm", norm(F.col("embedding")))
    a = assigned.select(
        F.col("cluster_id").alias("a_cluster"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        F.col("cluster_id").alias("b_cluster"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    sim = dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_nrm") * F.col("b_nrm"))
    pruned = (
        a.join(
            b,
            (F.col("a_cluster") == F.col("b_cluster"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(sim >= tau)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return assigned.join(pruned, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.col("hit").isNotNull().alias("is_pruned"),
    )
