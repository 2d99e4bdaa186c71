"""Product quantization (PQ) for approximate nearest neighbor search.

The third ANN tier next to brute-force cosine and IVF
(``operators/similarity.py``): compress each d-dim vector into m
small codes (one per d/m-dim subspace, nearest of ks codebook
centroids), then score queries against CODES via asymmetric distance
computation (ADC): the query precomputes a ks-entry distance table per
subspace and a candidate's distance is the sum of m table lookups
(Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011). At 100 TB this is the memory-resident path: m bytes per
vector instead of d floats (64x smaller at d=64/m=8), so the scored
index fits executor memory where raw vectors cannot.

Engine-exact determinism (the repo's standard tricks):
- codebooks are md5-derived literals (``pq_codebooks``) — embeddable
  in any engine; trained codebooks per subspace drop in unchanged
  (same [m][ks][d/m] shape), the algebra does not depend on them;
- every subspace distance is an ordered double fold QUANTIZED to
  integer micros (floor(x*1e6 + 0.5)) before any comparison or sum, so
  argmin ties, ADC sums, and rankings are bit-identical in DuckDB
  (float sums reorder across partitions; bigint sums cannot);
- encode and oracle share ONE relational formulation (broadcast
  centroids x quantized arg-min with lower-code tie-break), pinned
  against a plain numpy reference in the tests. (A scan-fused
  expression form of the encode has m*ks distance subtrees that exceed
  the whole-stage-codegen method limit and run interpreted, so the
  join form is the faster one.)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUANT = 1_000_000  # micro-quantization, same as the warehouse money math


def pq_codebooks(dim: int, m: int = 8, ks: int = 16) -> list[list[list[float]]]:
    """[m][ks][dim/m] deterministic md5-derived codebook centroids
    (same construction as seed_centroids / the hyperplane planes)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    books = []
    for s in range(m):
        book = []
        for c in range(ks):
            row = []
            for i in range(ds):
                h = hashlib.md5(f"pq_{s}_{c}_{i}".encode()).hexdigest()
                row.append(int(h[:8], 16) / 4294967296.0 - 0.5)
            book.append(row)
        books.append(book)
    return books


def subspace_fold_q(term, ds: int) -> Column:
    """THE engine-exactness-critical fold, defined once: left-assoc sum
    of ``term(i)`` for i in [0, ds) — ((t0+t1)+t2)... matching DuckDB's
    list_reduce — micro-quantized floor(x*1e6 + 0.5) as bigint. Every
    PQ/IVFADC code path builds its subspace distance through this
    helper so the cross-engine bit-for-bit contract has a single
    definition to keep correct."""
    total: Column | None = None
    for i in range(ds):
        t = term(i)
        total = t if total is None else total + t
    return F.floor(total * QUANT + F.lit(0.5)).cast("long")


def pq_centroids_df(spark: SparkSession, codebooks: list[list[list[float]]]) -> DataFrame:
    """(s, c, cent) rows — m*ks tiny rows for the relational/ADC side."""
    rows = [
        (s, c, cent)
        for s, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    return spark.createDataFrame(rows, "s int, c int, cent array<double>")


def sql_pq_centroid_values(codebooks: list[list[list[float]]]) -> str:
    """DuckDB VALUES list matching :func:`pq_centroids_df` exactly."""
    rows = []
    for s, book in enumerate(codebooks):
        for c, cent in enumerate(book):
            lst = ", ".join(repr(x) for x in cent)
            rows.append(f"({s}, {c}, [{lst}])")
    return "(VALUES " + ", ".join(rows) + ") AS cents(s, c, cent)"


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adc_q1e6): top-k candidates per
    query by ADC distance over PQ codes.

    ``queries`` must have (query_id, qvec), drawn from the corpus id
    space: a candidate whose id equals the query_id is the query itself
    and is dropped. The corpus side (``embedding``) never
    touches raw query vectors: candidates are scored by joining their
    (s, code) rows to the query's broadcast distance table (m*ks rows
    per query) and summing m exact bigint partials. Shuffle budget:
    one exchange for the (query, candidate) partial sum, one for the
    per-query top-k window — independent of dim.
    """
    spark = embeddings.sparkSession
    ds = len(codebooks[0][0])
    ks = len(codebooks[0])

    # Relational encode: corpus x broadcast centroids (m*ks tiny rows),
    # one quantized subspace distance per joined row, then a map-side-
    # combinable min-agg on (vector, subspace). An expression-tree
    # encode is semantically identical but its m*ks distance subtrees
    # overflow the whole-stage-codegen method limit and fall back to
    # interpreted eval — measured ~5x slower than this join at sf0.1. Shuffle volume here is m compact rows per vector
    # (the size of the codes themselves).
    cents = pq_centroids_df(spark, codebooks)

    def rel_term(vec_name: str):
        def term(i: int) -> Column:
            x = F.element_at(F.col(vec_name), F.col("s") * ds + i + 1).cast(
                "double"
            ) - F.element_at(F.col("cent"), i + 1)
            return x * x

        return term

    dist_q = subspace_fold_q(rel_term("embedding"), ds)
    codes = (
        embeddings.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "s",
            (dist_q * ks + F.col("c")).alias("key"),
        )
        .groupBy("neighbor_id", "s")
        .agg((F.min("key") % ks).cast("int").alias("code"))
    )
    qtab = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "s",
        F.col("c").alias("code"),
        subspace_fold_q(rel_term("qvec"), ds).alias("partial_q"),
    )

    return _adc_topk(codes.join(F.broadcast(qtab), ["s", "code"]), k)


def ivfpq_adc_topk(
    embeddings: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    query_pred: Column | None = None,
    k: int = 5,
    fan_out_partitions: int | None = None,
) -> DataFrame:
    """IVF + PQ with RESIDUAL encoding (Jegou et al. 2011 §IV — the
    composition FAISS calls IVFADC): assign every vector to its
    nearest coarse centroid (literal-centroid fold, scan-fused), PQ-
    encode the residual ``x - coarse[cell]``, and answer a query by
    scanning ONLY its own cell (nprobe=1), scoring candidates with an
    m-lookup asymmetric distance against the query's residual table.

    This is the true 100 TB ANN layout: the index stores m bytes per
    vector, the coarse cells bound the scan to ~N/K candidates, and
    residual encoding recovers most of the accuracy plain PQ loses to
    coarse displacement. All distances are micro-quantized bigints
    (floor(d*1e6 + 0.5)) from left-associated double folds, so cell
    assignment, code assignment, and ranking are reproducible across
    engines.

    Shuffle budget: one exchange for the per-(vector, subspace) code
    min-agg, one for the (query, candidate) partial sum, one for the
    per-query top-k window — none touch raw vectors.

    ``query_pred`` should select a PROBE-sized set: the per-query
    distance table (m*ks rows each) broadcasts, so all-vectors-as-
    queries (query_pred=None) is only sane on small corpora — exactly
    like handing a full table to any broadcast side. Queries are corpus
    rows, so a query never ranks itself (as in :func:`pq_adc_topk`).
    """
    from .clustering import lloyd_assign

    spark = embeddings.sparkSession
    ds = len(codebooks[0][0])
    ks = len(codebooks[0])

    coarse_arr = F.array(
        *[F.array(*[F.lit(x) for x in cent]) for cent in coarse_centroids]
    )
    base = embeddings.select(
        F.col(id_col),
        F.col("embedding").alias("vec"),
        lloyd_assign(F.col("embedding"), coarse_centroids).alias("cell"),
    )
    if (
        fan_out_partitions
        and base.rdd.getNumPartitions() < fan_out_partitions
    ):
        # Fan out AFTER the cell projection, not before it (round 15):
        # when the caller repartitioned the raw scan instead, the ADC
        # join's pushed-down isnotnull(cell) landed BELOW that exchange
        # while the projection stayed above it, so the 8x64-dim coarse
        # argmin fold (CodegenFallback zip_with — interpreted) ran
        # TWICE per corpus row. With the projection below the exchange
        # the pushed filter is a cheap column test and the fold runs
        # once. No-op when the scan is already at least this parallel
        # (production multi-row-group files).
        base = base.repartition(fan_out_partitions, F.col(id_col))
    base = base.withColumn("ccent", F.element_at(coarse_arr, F.col("cell") + 1))

    cents = pq_centroids_df(spark, codebooks)

    def resid_subdist(vec: str) -> Column:
        # ((x_i - coarse_i) - cent_i)^2 through the shared exact fold.
        def term(i: int) -> Column:
            idx = F.col("s") * ds + i + 1
            x = (
                F.element_at(F.col(vec), idx).cast("double")
                - F.element_at(F.col("ccent"), idx)
                - F.element_at(F.col("cent"), i + 1)
            )
            return x * x

        return subspace_fold_q(term, ds)

    codes = (
        base.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            "s",
            (resid_subdist("vec") * ks + F.col("c")).alias("key"),
        )
        .groupBy("neighbor_id", "cell", "s")
        .agg((F.min("key") % ks).cast("int").alias("code"))
    )

    queries = base if query_pred is None else base.filter(query_pred)
    # codes and qtab both carry the ``s`` column of cents: the query side
    # renames its keys so the join compares two columns, not s = s
    qtab = queries.crossJoin(F.broadcast(cents)).select(
        F.col(id_col).alias("query_id"),
        F.col("cell").alias("qcell"),
        F.col("s").alias("qs"),
        F.col("c").alias("qcode"),
        resid_subdist("vec").alias("partial_q"),
    )

    scored = codes.join(
        F.broadcast(qtab),
        (F.col("s") == F.col("qs"))
        & (F.col("code") == F.col("qcode"))
        & (F.col("cell") == F.col("qcell")),
    )
    return _adc_topk(scored, k)


def _adc_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, adc_q1e6): the ADC tail shared by
    both entry points. ``scored`` holds one ``partial_q`` row per
    (query, candidate, subspace); a candidate that is the query itself
    is dropped, the m partials are summed exactly, and the k smallest
    distances per query are ranked (ties to the lower neighbor_id)."""
    scored = (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("partial_q").alias("adc_q1e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_q1e6", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_q1e6")
    )
