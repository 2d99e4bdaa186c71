"""K-means (Lloyd's algorithm) steps over embedding columns.

Not in the reference (its only "clustering" is BigQuery table
clustering); :func:`lloyd_assign` is the nearest-centroid assignment
behind SemDeDup (operators/similarity.py) and the IVF-PQ coarse cells
(operators/pq.py).

The oracle-facing single step (``lloyd_step_quantized`` +
``sql_lloyd_step``) uses ordered-fold Column expressions with literal
centroids and integer-quantized component sums, so DuckDB reproduces
the assignment and the aggregation bit-for-bit (the same
floor(x*1e6 + 0.5) money-math trick the warehouse queries use —
float->decimal casts would diverge by 1 ulp between engines, quantized
bigint sums cannot).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def seed_centroids(dim: int, k: int = 8) -> list[list[float]]:
    """Deterministic md5-derived centroids (same construction as the
    hyperplane LSH planes) — embeddable as literals in any engine."""
    import hashlib

    cents = []
    for j in range(k):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"kmeans_{j}_{i}".encode()).hexdigest()
            row.append(int(h[:8], 16) / 4294967296.0 - 0.5)
        cents.append(row)
    return cents


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Ordered-fold squared L2 distance to a literal centroid —
    bit-identical in Spark and DuckDB (sequential double fold).

    Deliberately the zip_with/aggregate fold, NOT an unrolled
    per-element sum: unrolling k x dim GetArrayItem trees was measured
    (round 14) to overflow whole-stage codegen (Janino method-size
    failure -> interpreted giant tree), losing 2-4x vs this compact
    interpreted fold at dim=64."""
    c = F.array(*[F.lit(x) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lloyd_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (ties -> lower id) as a Column expression.

    Argmin is array_min over (dist, id) structs — each distance subtree
    appears ONCE, keeping the tree linear in k (round 14). The round-13 chained when() duplicated the running
    best per step (~3^k nodes of interpreted fold — the dominant cost
    of every lloyd_assign caller at bench scale). Struct ordering is
    (d, id) lexicographic, so ties break to the lower id exactly like
    the strict-< chain; an all-NULL distance row (NULL vec) compares
    by id and returns 0, the chain's behavior too.

    The coalesce is a NO-OP by construction (the struct array is a
    non-empty literal-length array of non-null structs whose id field
    is a literal int, so array_min(...).c is never null) — it exists to
    teach Catalyst that non-nullability (round 15): a join/filter on
    the assigned cell pushes an isnotnull(<this expression>) predicate
    below the consumer's exchange, where it re-evaluated the ENTIRE
    k x dim interpreted distance fold once more per row (measured in
    ann_ivfpq_residual_topk's plan: the full array_min tree duplicated
    into a pre-exchange Filter). With the provably-non-null coalesce,
    NullPropagation folds that isnotnull to true and the fold runs
    once."""
    pairs = F.array(
        *[
            F.struct(_sq_dist(vec, cent).alias("d"), F.lit(j).alias("c"))
            for j, cent in enumerate(centroids)
        ]
    )
    return F.coalesce(F.array_min(pairs).getField("c"), F.lit(0))


def lloyd_step_quantized(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_components: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """One oracle-exact Lloyd step: assign every vector to its nearest
    literal centroid, then aggregate per cluster — member count plus
    integer-quantized sums of the first ``n_components`` components
    (floor(x * scale + 0.5) as bigint: order-independent, engine-exact).
    The quantized sums pin both the assignment AND the aggregation."""
    assigned = vectors.withColumn("cluster_id", lloyd_assign(F.col(vec_col), centroids))
    aggs = [F.count("*").alias("n_members")] + [
        F.sum(
            F.floor(F.col(vec_col)[i].cast("double") * scale + F.lit(0.5)).cast("long")
        ).alias(f"qsum_{i}")
        for i in range(n_components)
    ]
    return assigned.groupBy("cluster_id").agg(*aggs)


def sql_lloyd_assign_parts(
    centroids: list[list[float]],
    vec_sql: str = "embedding",
) -> tuple[str, str]:
    """(dists-select-list, argmin-CASE) SQL fragments of
    :func:`lloyd_assign` — the assignment half of the Lloyd twin,
    reusable by any oracle that needs the engine-exact cluster id
    (ties -> lower id via strict <, same fold order as the Column
    expression)."""

    def sq_dist(cent: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in cent) + "]"
        return (
            f"list_reduce(list_transform(range(1, len({vec_sql}) + 1), "
            f"i -> (CAST({vec_sql}[i] AS DOUBLE) - ({lit})[i]) "
            f"* (CAST({vec_sql}[i] AS DOUBLE) - ({lit})[i])), (x, y) -> x + y)"
        )

    dists = ",\n        ".join(
        f"{sq_dist(c)} AS d{j}" for j, c in enumerate(centroids)
    )
    assign = "CASE"
    for j in range(len(centroids)):
        others = " AND ".join(
            f"d{j} <= d{m}" if m > j else f"d{j} < d{m}"
            for m in range(len(centroids))
            if m != j
        )
        assign += f" WHEN {others} THEN {j}"
    assign += " END"
    return dists, assign


def sql_lloyd_step(
    table_sql: str,
    centroids: list[list[float]],
    vec_sql: str = "embedding",
    id_sql: str = "vec_id",
    n_components: int = 4,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`lloyd_step_quantized` (same literal
    centroids, same fold order, same quantization)."""
    dists, assign = sql_lloyd_assign_parts(centroids, vec_sql)
    # outer CAST: DuckDB's SUM(BIGINT) widens to HUGEINT, which its
    # pandas bridge renders as float — pin back to BIGINT
    qsums = ",\n      ".join(
        f"CAST(SUM(CAST(FLOOR(CAST({vec_sql}[{i + 1}] AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS qsum_{i}"
        for i in range(n_components)
    )
    return f"""
    WITH dists AS (
      SELECT {id_sql}, {vec_sql},
        {dists}
      FROM {table_sql}
    )
    SELECT {assign} AS cluster_id,
      COUNT(*) AS n_members,
      {qsums}
    FROM dists
    GROUP BY 1
    """
