"""Training-data-pipeline contract queries: dedup, similarity search,
text analysis, multimodal plumbing (BASELINE.json north star — beyond
the reference's own surface).

Duplicate structure is injected deterministically (near-dup and exact
copies with offset ids) so the dedup operators have real work and the
DuckDB oracle reproduces the identical corpus.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.dedup import (
    SQL_MINHASH_CTES,
    exact_dedup_stats,
    lsh_candidate_pairs,
    lsh_candidate_pairs_fast,
    ngram_jaccard_pairs,
    simhash_bits,
    sql_shingles_cte,
)
from ..operators.multimodal import decode_images, sample_frames, with_text_payload
from ..operators.similarity import (
    cosine_topk,
    dot,
    hyperplane_bucket,
    hyperplane_lsh_planes,
    ivf_assign,
    ivf_bucket_scores,
    norm,
    sql_dot,
    sql_hyperplane_bucket,
    top_by_cosine,
)
from .registry import fan_out, query, table

# Deterministic hyperplane constants (md5-derived — embeddable as SQL
# literals, so Spark and DuckDB compute identical sign-bit buckets).
_PLANES = hyperplane_lsh_planes(dim=64, n_planes=8)
# 16 planes split into 4 bands of 4 bits for banded near-dup discovery
# (the embedding analog of minhash banding: candidates = pairs sharing
# ANY band signature).
_BAND_PLANES = hyperplane_lsh_planes(dim=64, n_planes=16)
_BAND_SIZE = 4
_BANDS = [
    _BAND_PLANES[i : i + _BAND_SIZE]
    for i in range(0, len(_BAND_PLANES), _BAND_SIZE)
]

# ---------------------------------------------------------------------------
# Shared corpora (Spark + SQL twins).
# ---------------------------------------------------------------------------

def corpus(spark: SparkSession, sf_dir: str, bound: int | None = None) -> DataFrame:
    """documents + injected near-dup (+100000) and exact (+200000) copies."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    if bound is not None:
        d = d.filter(F.col("doc_id") < bound)
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate suffix")).alias("text"),
    )
    exact = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return d.unionByName(near).unionByName(exact)


def corpus_cte(bound: int | None = None) -> str:
    w = f"WHERE doc_id < {bound}" if bound is not None else ""
    w_and = f"doc_id < {bound} AND " if bound is not None else ""
    return f"""
    corpus AS (
      SELECT doc_id, text FROM documents {w}
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' near duplicate suffix' AS text
      FROM documents WHERE {w_and}doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE {w_and}doc_id % 11 = 0
    )
    """


def vec_corpus(spark: SparkSession, sf_dir: str, bound: int) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") < bound)
    dups = base.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return base.unionByName(dups)


def vec_corpus_cte(bound: int) -> str:
    return f"""
    vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {bound}
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < {bound} AND vec_id % 17 = 0
    )
    """


# ---------------------------------------------------------------------------
# Dedup: exact (hash groupBy).
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    WITH {corpus_cte()}
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM corpus
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-groupBy shuffle on md5(content); linear in
    input, map-side partial aggregation — the 100 TB baseline dedup."""
    return exact_dedup_stats(corpus(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup: n-gram Jaccard (inverted-index pairwise verification).
# ---------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {corpus_cte(bound=300)},
    shingles AS ({sql_shingles_cte("corpus")}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_shingles AS size_a, sb.n_shingles AS size_b,
           n_common / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.6 pairs via shingle inverted-index join
    (no n^2 scan). Bounded to the first 300 base docs — this operator is
    the verification stage; discovery at scale is LSH below."""
    return ngram_jaccard_pairs(corpus(spark, sf_dir, bound=300), threshold=0.6)


# ---------------------------------------------------------------------------
# Dedup: MinHash + LSH banding (the scale path).
# ---------------------------------------------------------------------------
# Shared by dedup_minhash_lsh (the batch discovery pass) and
# dedup_streaming_ingest_gate (the SAME pair semantics accumulated
# batch-by-batch through a real Structured Streaming replay).
_LSH_PAIRS_ORACLE = f"""
    WITH {corpus_cte()},
    shingles AS ({sql_shingles_cte("corpus")}),
    {SQL_MINHASH_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh", oracle=_LSH_PAIRS_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands x 3 rows) candidate pairs. One shuffle
    per stage on a high-cardinality key; no pairwise work outside
    buckets — the 100 TB dedup discovery path.

    Minhashes are a universal-hash family over ONE md5 per shingle
    (two 28-bit slices, (a_j*h1+b_j*h2) mod 2^31-1) — still DuckDB-
    exact, but the per-shingle hash cost dropped k-fold and every
    shuffled value is a long.

    The local corpus is a single parquet file (1-3 scan partitions), so
    we repartition by doc before hashing to spread the per-shingle md5
    work across all cores; on a real multi-file input this is a no-op
    cost (one small shuffle of raw text)."""
    c = corpus(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return lsh_candidate_pairs(c, num_hashes=12, band_rows=3)


@query("dedup_minhash_lsh_fast")
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 production variant of dedup_minhash_lsh (VERDICT r3 #2):
    identical pipeline shape, but minhashes are JVM-codegen longs and
    band signatures a single xxhash64 fold, so the hot shuffle + join
    keys are 8-byte values instead of md5 hex strings. No DuckDB oracle
    (xxhash64 is Spark-specific); parity with the md5 fold is pinned by
    tests/test_operators.py::test_lsh_fast_parity — candidate sets are
    identical at test SFs, and any divergence is confined to borderline
    pairs both hash families catch with probability 1-(1-s^3)^4."""
    c = corpus(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return lsh_candidate_pairs_fast(c, num_hashes=12, band_rows=3)


@query("dedup_streaming_ingest_gate", oracle=_LSH_PAIRS_ORACLE)
def dedup_streaming_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest under the external oracle gate: the corpus
    arrives as THREE mtime-ordered file chunks replayed through a real
    Structured Streaming file source (maxFilesPerTrigger=1 +
    availableNow), and each micro-batch runs incremental_lsh_pairs
    (operators/dedup.py) — signatures for the BATCH ONLY are
    computed and MERGEd into a persistent VersionedTable signature
    store (txn_id = batch id, so a replayed batch neither duplicates
    signatures nor double-reports), then band buckets are probed with
    the batch broadcast as the small side. The union of per-batch pair
    emissions must hash-match the WHOLE-CORPUS batch LSH oracle: its
    oracle is its batch twin ``dedup_minhash_lsh``'s,
    ``_LSH_PAIRS_ORACLE``. Every pair is discovered exactly once, at the
    batch where its later-arriving member lands.

    Chunks are cut on doc_id % 3 — an expression the injected
    duplicate offsets do NOT preserve (100000 % 3 = 1, 200000 % 3 = 2),
    so a base document, its near duplicate (+100000) and its exact
    copy (+200000) land in three DIFFERENT micro-batches, ALWAYS: every
    designed duplicate pair crosses a batch boundary, and a sink that
    ignored the persistent signature store could not reproduce the
    whole-corpus oracle. (The round-12 cut on doc_id % 4 was defective
    exactly here — both offsets are divisible by 4, so designed pairs
    were same-batch and the cross-batch state went near-unverified;
    ADVICE r12.)

    100 TB shape: per-batch cost is O(batch + matching buckets),
    independent of corpus size; the only growing state is the
    signature table at ~12 longs/doc, and the bucket probe reads it
    through one pruned scan. This is the never-re-shingle ingest
    pattern a streaming pretraining-data pipeline runs."""
    from ..operators.dedup import incremental_lsh_pairs
    from ..sources.versioned import VersionedTable
    from ..streaming.replay import stage_keyed_chunks
    from .lifecycle_queries import _scratch

    root = _scratch("dedup_streaming_ingest_gate", sf_dir)
    c = corpus(spark, sf_dir)
    glob = stage_keyed_chunks(
        c, root / "src", F.pmod(F.col("doc_id"), F.lit(3)), n_chunks=3
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )
    sig_store = VersionedTable(root / "sigs")
    out = root / "out"

    def sink(batch_df, batch_id):
        _, pairs = incremental_lsh_pairs(
            spark, sig_store, batch_df, txn_id=f"ingest-b{batch_id}"
        )
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(str(out))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(1800):
        # ADVICE r12: reading the output while the stream still writes
        # would surface as a confusing partial-result oracle mismatch;
        # make a hung replay report as what it is.
        q.stop()
        raise TimeoutError(
            "dedup_streaming_ingest_gate replay did not finish in 1800s"
        )
    return spark.read.parquet(str(out)).select("doc_a", "doc_b").distinct()


# ---------------------------------------------------------------------------
# Dedup: SimHash signatures.
# ---------------------------------------------------------------------------
def _simhash_oracle(bits: int = 32) -> str:
    digit = (
        lambda i: f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
    )
    votes = ",\n        ".join(
        f"SUM(CASE WHEN {digit(i)} % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sig = " || ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    return f"""
    WITH {corpus_cte()},
    toks AS (
      SELECT doc_id, md5(tok) AS h
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM corpus)
    ),
    sums AS (
      SELECT doc_id,
        {votes}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {sig} AS simhash FROM sums
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc (token votes from md5 hex digits).
    Identical signatures = near-identical token bags; banding the bits
    extends to Hamming-distance<=k search at scale."""
    return simhash_bits(corpus(spark, sf_dir), bits=32)


# ---------------------------------------------------------------------------
# Dedup: embedding-cosine near-duplicate pairs.
# ---------------------------------------------------------------------------
def _band_sigs_sql(vec_sql: str) -> str:
    """UNION ALL of one (band, sig) projection per LSH band — DuckDB
    twin of the Spark posexplode over band signatures."""
    return "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {b} AS band, "
        f"{sql_hyperplane_bucket(vec_sql, planes)} AS sig FROM vecs"
        for b, planes in enumerate(_BANDS)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {vec_corpus_cte(bound=400)},
    bands AS (
{_band_sigs_sql("embedding")}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      WHERE a.vec_id < b.vec_id
    ),
    normed AS (
      SELECT vec_id, embedding, sqrt({sql_dot("embedding", "embedding")}) AS nrm
      FROM vecs
    )
    SELECT vec_a, vec_b,
           {sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine_sim
    FROM cand
    JOIN normed a ON a.vec_id = vec_a
    JOIN normed b ON b.vec_id = vec_b
    WHERE {sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.95
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine >= 0.95, composed the way it
    runs at 100 TB: banded hyperplane-LSH bucketing (4 bands x 4
    sign-bits; candidates = pairs sharing ANY band signature) followed
    by exact cosine verification only on candidate pairs. Every join is
    an equi-join on (band, sig) or vec_id — no BroadcastNestedLoopJoin
    anywhere in the plan; pairwise work is confined to bucket
    co-occupants. The DuckDB oracle computes the identical composition
    (same md5-derived plane literals, same fold order), so the recall
    bounds of the banding are shared by both engines."""
    vecs = vec_corpus(spark, sf_dir, bound=400)
    bands = vecs.select(
        "vec_id",
        F.posexplode(
            F.array(*[hyperplane_bucket(F.col("embedding"), p) for p in _BANDS])
        ).alias("band", "sig"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    normed = vecs.withColumn("nrm", norm(F.col("embedding")))
    na = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    nb = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= 0.95)
        .select("vec_a", "vec_b", "cosine_sim")
    )


# DuckDB twins of the cosine scorers: every vector with its norm, the
# exact scores of every 100th vector against the corpus, the IVF
# assignment to the nearest of the first ``nlist`` vectors, and the
# per-query top-k of a ``scored`` CTE.
_SQL_NORMED = f"""normed AS (
      SELECT vec_id, embedding, sqrt({sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings
    )"""
_SQL_EXACT_SCORED = f"""
    WITH {_SQL_NORMED},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {sql_dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine_sim
      FROM normed q JOIN normed c ON q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    )"""


def _sql_ivf_assigned(nlist: int) -> str:
    return f"""
    WITH {_SQL_NORMED},
    centroids AS (SELECT * FROM normed WHERE vec_id < {nlist}),
    assigned AS (
      SELECT vec_id, embedding, nrm, centroid_id FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {sql_dot("v.embedding", "c.embedding")} / (v.nrm * c.nrm) DESC,
                          c.vec_id
               ) AS rn
        FROM normed v CROSS JOIN centroids c
      ) WHERE rn = 1
    )"""


def _sql_top_by_cosine(cols: str, k: int) -> str:
    return f"""
    SELECT {cols} FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS rank
      FROM scored
    )
    WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k.
# ---------------------------------------------------------------------------
@query(
    "ann_cosine_topk",
    oracle=_SQL_EXACT_SCORED
    + _sql_top_by_cosine("query_id, neighbor_id, rank, cosine_sim", 10),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 100th vector as query. Queries are
    broadcast; scoring is a map-side loop over the corpus scan; the only
    shuffle is the per-query top-k window. Dot products are ordered
    double folds — bit-identical to the DuckDB oracle."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    return cosine_topk(q, c, k=10, corpus_id="neighbor_id", corpus_vec="cvec")


@query("ann_cosine_topk_np")
def ann_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized exact cosine top-10 (Arrow + numpy BLAS matmul via
    mapInPandas) for every 100th vector as query — the production
    scorer ``cosine_topk`` fold variant exists only for bit-exact
    oracle parity. No DuckDB oracle here: numpy's pairwise/SIMD
    summation differs from the sequential fold in the last ~ulp, so
    parity with the fold path is asserted in pytest with tolerance
    (tests/test_operators.py::test_cosine_topk_np_matches_fold) and the
    driver records a rows-only check. The query set is collected to pandas by design: ANN query
    workloads are small and ship in the task closure (broadcast
    analog); the corpus side stays fully distributed."""
    from ..operators.similarity import cosine_topk_np

    e = table(spark, sf_dir, "embeddings")
    queries_pdf = (
        e.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .toPandas()
    )
    return cosine_topk_np(queries_pdf, e, k=10)


@query(
    "ann_cosine_topk_np_ids",
    oracle=_SQL_EXACT_SCORED + _sql_top_by_cosine("query_id, neighbor_id", 10),
)
def ann_cosine_topk_np_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ids-only projection of the numpy BLAS kernel (VERDICT r12 ask
    #5): the top-10 neighbor-id SET per query, hash-matched against the
    exact sequential-fold oracle. The raw float kernel stays rows-only
    (numpy's pairwise/SIMD summation diverges from the fold in the last
    ~ulp), but the id set is float-robust — the k-boundary score gaps
    in this corpus are orders of magnitude wider than the ~1e-12
    summation-order divergence. Set-equality vs the fold path is
    pinned in pytest
    (tests/test_operators.py::test_cosine_topk_np_ids_set_matches_fold)
    and held at sf0.001/0.01/0.1/sf1 when gated."""
    return ann_cosine_topk_np(spark, sf_dir).select("query_id", "neighbor_id")


# ---------------------------------------------------------------------------
# Similarity search: IVF-bucketed ANN (the scale path).
# ---------------------------------------------------------------------------
@query(
    "ann_ivf_bucketed",
    oracle=f"""{_sql_ivf_assigned(8)},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.centroid_id,
             {sql_dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine_sim
      FROM assigned q
      JOIN assigned c ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    ){_sql_top_by_cosine("query_id, centroid_id, neighbor_id, rank, cosine_sim", 5)}""",
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest of 8 deterministic
    centroids (broadcast join, linear), then search only the query's
    bucket. The candidate set shrinks by ~K vs brute force — this is
    how 100 TB ANN stays tractable. Recall is approximate by design."""
    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    assigned = ivf_assign(e, cents)
    scored = ivf_bucket_scores(assigned.filter(F.col("vec_id") % 100 == 0), assigned)
    return top_by_cosine(scored, 5).select(
        "query_id", "centroid_id", "neighbor_id", "rank", "cosine_sim"
    )


from ..operators.clustering import (  # noqa: E402
    lloyd_assign,
    lloyd_step_quantized,
    seed_centroids,
    sql_lloyd_assign_parts,
    sql_lloyd_step,
)

_KMEANS_CENTS = seed_centroids(dim=64, k=8)


@query(
    "kmeans_lloyd_step",
    oracle=sql_lloyd_step("embeddings", _KMEANS_CENTS),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One oracle-exact Lloyd (k-means) step over the embeddings: assign
    every vector to its nearest of 8 literal md5-seeded centroids via
    ordered-fold squared L2 (bit-identical in DuckDB), then per-cluster
    count + integer-quantized component sums (the floor(x*1e6+0.5)
    money-math trick — order-independent, engine-exact). A trainer
    iterates this step until the centroids stop moving."""
    e = table(spark, sf_dir, "embeddings")
    return lloyd_step_quantized(e, _KMEANS_CENTS)


@query("ann_ivf_bucketed_np")
def ann_ivf_bucketed_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy IVF ANN — the production scorer for the IVF path
    (round-2 verdict ask #4). Same bucketed plan shape as the fold
    variant ``ann_ivf_bucketed`` (broadcast-analog centroids, bucket
    equi-join, top-k window) but assignment and scoring run as
    vectorized mapInPandas kernels. No DuckDB oracle: numpy summation
    order differs from the sequential fold in the last ~ulp (rows-only
    driver check; tolerance parity vs the fold variant is asserted in
    tests/test_operators.py)."""
    from ..operators.similarity import ivf_search_np

    e = table(spark, sf_dir, "embeddings")
    centroids_pdf = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec"))
        .toPandas()
    )
    return ivf_search_np(
        e, centroids_pdf, F.col("vec_id") % 100 == 0, k=5, nprobe=1
    )


@query(
    "ann_ivf_bucketed_np_ids",
    oracle=f"""{_sql_ivf_assigned(8)},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {sql_dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine_sim
      FROM assigned q
      JOIN assigned c ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    ){_sql_top_by_cosine("query_id, neighbor_id", 5)}""",
)
def ann_ivf_bucketed_np_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ids-only projection of the numpy IVF kernel (round 13 — the
    same settlement pattern as ``ann_cosine_topk_np_ids``): the top-5
    same-bucket neighbor-id SET per query, hash-matched against the
    exact sequential-fold IVF oracle (assignment tie toward the lower
    centroid id, matching the kernel's stable argsort). Both the
    centroid ASSIGNMENT and the k-boundary are float-robust in this
    corpus: id sets verified EQUAL at sf0.001/0.01/0.1/sf1 this round
    and pinned in tests/test_operators.py. The raw float kernel stays
    registered (rows-only) for benchmarks; this row carries the
    external correctness evidence for the production IVF scorer."""
    return ann_ivf_bucketed_np(spark, sf_dir).select("query_id", "neighbor_id")


# ---------------------------------------------------------------------------
# Similarity search: random-hyperplane LSH bucketing (embedding analog
# of minhash banding).
# ---------------------------------------------------------------------------
@query(
    "ann_lsh_hyperplane",
    oracle=f"""
    WITH {vec_corpus_cte(bound=400)},
    bucketed AS (
      SELECT vec_id, embedding,
             {sql_hyperplane_bucket("embedding", _PLANES)} AS bucket
      FROM vecs
    ),
    normed AS (
      SELECT *, sqrt({sql_dot("embedding", "embedding")}) AS nrm FROM bucketed
    )
    SELECT a.bucket,
           a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine_sim
    FROM normed a
    JOIN normed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """,
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 deterministic sign-bit projections ->
    256 buckets -> candidate pairs only within a bucket, scored exactly.
    One projection pass + one bucket equi-join — the 100 TB discovery
    path for embedding near-dups (IVF's cousin, no training step)."""
    vecs = vec_corpus(spark, sf_dir, bound=400)
    bucketed = vecs.withColumn(
        "bucket", hyperplane_bucket(F.col("embedding"), _PLANES)
    ).withColumn("nrm", norm(F.col("embedding")))
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return pairs.select("bucket", "vec_a", "vec_b", sim.alias("cosine_sim"))


# ---------------------------------------------------------------------------
# ANN: product quantization + asymmetric distance (the memory-resident
# tier: m bytes/vector instead of d floats).
# ---------------------------------------------------------------------------

from ..operators.pq import (  # noqa: E402
    pq_adc_topk,
    pq_codebooks,
    sql_pq_centroid_values,
)

_PQ_M, _PQ_KS, _PQ_DS = 8, 16, 8
_PQ_BOOKS = pq_codebooks(64, _PQ_M, _PQ_KS)

_PQ_SUBDIST = (
    "CAST(floor(list_reduce(list_transform(range(1, {ds1}), "
    "i -> (CAST({vec}[s * {ds} + i] AS DOUBLE) - cent[i]) "
    "* (CAST({vec}[s * {ds} + i] AS DOUBLE) - cent[i])), "
    "(a, b) -> a + b) * 1000000 + 0.5) AS BIGINT)"
)


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH cents AS (SELECT * FROM {sql_pq_centroid_values(_PQ_BOOKS)}),
    codes AS (
      SELECT e.vec_id AS neighbor_id, s,
             CAST(min({_PQ_SUBDIST.format(vec="e.embedding", ds=_PQ_DS, ds1=_PQ_DS + 1)}
                      * {_PQ_KS} + c) % {_PQ_KS} AS INT) AS code
      FROM embeddings e CROSS JOIN cents
      GROUP BY e.vec_id, s
    ),
    qtab AS (
      SELECT q.vec_id AS query_id, s, c AS code,
             {_PQ_SUBDIST.format(vec="q.embedding", ds=_PQ_DS, ds1=_PQ_DS + 1)} AS partial_q
      FROM embeddings q CROSS JOIN cents
      WHERE q.vec_id % 100 = 0
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(partial_q) AS BIGINT) AS adc_q1e6
      FROM codes JOIN qtab USING (s, code)
      WHERE query_id != neighbor_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adc_q1e6 FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_q1e6, neighbor_id
      ) AS rank
      FROM scored
    )
    WHERE rank <= 10
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC top-10 (``operators/pq.py``, Jegou et al. 2011): encode
    the corpus to 8 codes/vector (broadcast-centroid join + map-side-
    combinable quantized argmin — shuffle volume is the codes
    themselves), then score every 100th vector as query by summing 8
    exact bigint table lookups per candidate. The oracle states the
    same quantized argmin in SQL (cross join + min(dist_q*ks + c)), so
    code assignment and ranking are bit-identical. 100 TB story: the
    scored index is m bytes/vector (64x smaller than raw), queries
    broadcast as m*ks-row tables, and the only wide ops are the
    partial-sum exchange and the per-query top-k window.

    The single-file local scan repartitions before the 128-centroid
    distance projection (dedup_minhash_lsh precedent)."""
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return pq_adc_topk(e, queries, _PQ_BOOKS, id_col="vec_id", k=10)


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------
def _lang_counts_sql() -> dict[str, str]:
    return {
        lang: T.sql_stopword_count("text", sws)
        for lang, sws in T.LANG_STOPWORDS.items()
    }


_LC = _lang_counts_sql()
_G = f"greatest({_LC['en']}, {_LC['de']}, {_LC['fr']}, {_LC['es']})"

@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
      CAST({_LC['en']} AS INTEGER) AS s_en,
      CAST({_LC['de']} AS INTEGER) AS s_de,
      CAST({_LC['fr']} AS INTEGER) AS s_fr,
      CAST({_LC['es']} AS INTEGER) AS s_es,
      CASE
        WHEN {_LC['en']} = {_G} THEN 'en'
        WHEN {_LC['de']} = {_G} THEN 'de'
        WHEN {_LC['fr']} = {_G} THEN 'fr'
        WHEN {_LC['es']} = {_G} THEN 'es'
        ELSE 'unknown'
      END AS predicted_lang
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (the n-gram heuristic family) —
    pure Column exprs, one scan, no shuffle."""
    d = table(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in T.LANG_STOPWORDS],
        T.predict_lang(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
      CAST(length(text) AS INTEGER) AS n_chars,
      CAST(len(str_split(lower(text), ' ')) AS INTEGER) AS n_words,
      {T.sql_stopword_count("text", T.LANG_STOPWORDS["en"])} / len(str_split(lower(text), ' ')) AS stop_ratio,
      length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) AS alpha_ratio,
      length(replace(text, ' ', '')) / len(str_split(lower(text), ' ')) AS mean_word_len,
      0.4 * ({T.sql_stopword_count("text", T.LANG_STOPWORDS["en"])} / len(str_split(lower(text), ' ')))
        + 0.4 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text))
        + 0.2 * (CASE WHEN length(replace(text, ' ', '')) / len(str_split(lower(text), ' ')) >= 2.0
                       AND length(replace(text, ' ', '')) / len(str_split(lower(text), ' ')) <= 12.0
                      THEN 1.0 ELSE 0.0 END) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length, stopword density, alphabetic
    density, word-length sanity -> composite score. One scan, codegen'd."""
    d = table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        T.n_words(t).alias("n_words"),
        T.stop_ratio(t).alias("stop_ratio"),
        T.alpha_ratio(t).alias("alpha_ratio"),
        T.mean_word_len(t).alias("mean_word_len"),
        T.quality_score(t).alias("quality"),
    )


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
      CAST(len(str_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_re_tokens,
      CAST(len(list_distinct(str_split_regex(trim(lower(text)), '\s+'))) AS INTEGER) AS n_distinct_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens +
    distinct-token vocabulary size."""
    d = table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        T.n_ws_tokens(t).alias("n_ws_tokens"),
        T.n_re_tokens(t).alias("n_re_tokens"),
        T.n_distinct_tokens(t).alias("n_distinct_tokens"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH {corpus_cte()}
    SELECT doc_id, {T.sql_fingerprint("text")} AS fp,
           substr({T.sql_fingerprint("text")}, 1, 8) AS fp_prefix
    FROM corpus
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (md5 of lower/strip/collapse) —
    the join key for fuzzy-exact dedup across formatting variants."""
    c = corpus(spark, sf_dir)
    fp = T.fingerprint(F.col("text"))
    return c.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas stubs over binary payloads).
# ---------------------------------------------------------------------------
@query(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      md5(text) AS checksum,
      CAST(64 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
      CAST(64 + (octet_length(encode(text)) * 7) % 64 AS INTEGER) AS height,
      'fake' AS format
    FROM documents
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed image metadata through REAL mapInPandas
    plumbing (Arrow batches, fixed schema). The decoder header-parses
    PNG/GIF/BMP/JPEG containers for real (operators.multimodal); these
    text-derived payloads match no container, so they exercise the
    deterministic fake-fallback path (format='fake'), which the oracle
    reproduces. Real-container decode is oracle-checked by
    multimodal_image_meta below."""
    d = with_text_payload(table(spark, sf_dir, "documents"))
    return decode_images(d)


def _payloads(d: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, payload) with ``payload = make(doc_id)`` for each row of
    ``d``: synthetic media bytes rendered per Arrow batch."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [make(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(gen, "doc_id long, payload binary")


def _wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 WAVs for every 10th document: 100..499 frames at 8 kHz,
    mono or stereo, all derived from doc_id."""
    from ..operators.multimodal import wav_bytes

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return _payloads(d, lambda i: wav_bytes(100 + i % 400, 8000, 1 + i % 2, seed=i))


@query(
    "multimodal_image_meta",
    oracle="""
    SELECT doc_id,
      CAST(CASE WHEN doc_id % 4 = 0 THEN 'png' WHEN doc_id % 4 = 1 THEN 'gif'
                WHEN doc_id % 4 = 2 THEN 'bmp' ELSE 'jpeg' END
           AS VARCHAR) AS format,
      CAST(16 + doc_id % 48 AS INTEGER) AS width,
      CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS height
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec round-trip, in-engine: render genuine PNG/GIF/
    BMP/JPEG containers (stdlib struct/zlib + the baseline JPEG
    encoder) with dimensions derived from doc_id, then header-decode
    them back with the real parser. The oracle recomputes the
    dimensions arithmetically — matching proves the decoder inverts
    the encoder on actual container bytes."""
    from ..operators.multimodal import decode_images, image_bytes

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select("doc_id")
    fmts = ["png", "gif", "bmp", "jpeg"]
    payloads = _payloads(
        d, lambda i: image_bytes(fmts[i % 4], 16 + i % 48, 16 + (i * 7) % 48)
    )
    meta = decode_images(payloads, strict=True)
    return meta.select("doc_id", "format", "width", "height")


@query(
    "multimodal_variant_routing",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 8
        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'jpeg'
        WHEN 2 THEN 'jpeg-arithmetic' WHEN 3 THEN 'jpeg-12bit'
        WHEN 4 THEN 'jpeg-cmyk' WHEN 5 THEN 'jpeg-lossless'
        WHEN 6 THEN 'jpeg-hierarchical' ELSE 'jpeg-extended'
      END AS format,
      CAST(16 + doc_id % 48 AS INTEGER) AS width,
      CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS height
    FROM documents WHERE doc_id % 10 = 5
    """,
)
def multimodal_variant_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupported-JPEG quarantine routing, oracle-gated (round-7,
    VERDICT r6 ask #7): synthesize every JPEG coding variant the pixel
    decoder does NOT implement (arithmetic, 12-bit, CMYK, lossless,
    hierarchical, extended-Huffman — ref: the reference pipeline's
    crawl long tail) alongside the two it does, header-decode them
    through the real mapInPandas metadata path, and label each with its
    specific ``jpeg-<variant>`` format while still reporting header
    dimensions. A 100 TB crawl pipeline filters these labels aside
    instead of task-failing on the first arithmetic-coded JPEG."""
    from ..operators.multimodal import (
        JPEG_VARIANTS,
        decode_images,
        variant_jpeg_bytes,
    )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select("doc_id")
    )
    names = list(JPEG_VARIANTS)  # insertion-ordered: baseline..extended
    payloads = _payloads(
        d,
        lambda i: variant_jpeg_bytes(names[i % 8], 16 + i % 48, 16 + (i * 7) % 48),
    )
    meta = decode_images(payloads, strict=True)
    return meta.select("doc_id", "format", "width", "height")


@query(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id,
      CAST(44 + (100 + doc_id % 400) * 2 * (1 + doc_id % 2) AS INTEGER) AS n_bytes,
      CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
      8000 AS sample_rate,
      CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
      CAST((100 + doc_id % 400) * 1000 // 8000 AS BIGINT) AS duration_ms,
      'wav' AS format
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec round-trip, in-engine: render genuine PCM16 WAV
    containers (stdlib wave) with frame/channel counts derived from
    doc_id, then decode them back with the real WAV parser. The oracle
    recomputes every field arithmetically (44-byte canonical PCM header
    + 2 bytes x frames x channels), so a decoder that misreads any
    header field fails the value hash."""
    from ..operators.multimodal import decode_audio

    payloads = _wav_payloads(spark, sf_dir)
    return decode_audio(payloads)


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
      CAST(i AS INTEGER) AS frame_index,
      md5(substr(text, CAST(i * 96 + 1 AS INTEGER), 32)) AS frame_checksum
    FROM documents, (SELECT unnest(range(0, 1000)) AS i)
    WHERE i * 96 < length(text)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->N frame sampling via mapInPandas (every 96 bytes emit a
    32-byte 'frame' + checksum) — the video-frame-extraction shape with
    a byte-slicing stand-in for a codec."""
    d = with_text_payload(table(spark, sf_dir, "documents"))
    frames = sample_frames(d, frame_size=32, stride=96)
    return frames.select("doc_id", "frame_index", "frame_checksum")


_PURITY_DISTS, _PURITY_ASSIGN = sql_lloyd_assign_parts(_KMEANS_CENTS)


@query(
    "cluster_label_purity",
    oracle=f"""
    WITH dists AS (
      SELECT vec_id, label, embedding,
        {_PURITY_DISTS}
      FROM embeddings
    ),
    assigned AS (
      SELECT {_PURITY_ASSIGN} AS cluster_id, label FROM dists
    ),
    contingency AS (
      SELECT cluster_id, label, COUNT(*) AS n
      FROM assigned GROUP BY 1, 2
    )
    SELECT cluster_id, label, n,
           CAST(SUM(n) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_total,
           CAST(MAX(n) OVER (PARTITION BY cluster_id) AS DOUBLE)
             / SUM(n) OVER (PARTITION BY cluster_id) AS purity
    FROM contingency
    """,
)
def cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-evaluation metric: the contingency matrix of engine-exact
    Lloyd assignments (the 8 literal seed centroids) against the
    embeddings' ground-truth labels, with per-cluster purity =
    majority-label share (one IEEE division of exact counts). The
    unsupervised-quality gate a training pipeline runs after clustering
    — did the structure we clustered match the labels we trust?
    Scale: assignment is a scan-fused Column fold (zero shuffle), the
    contingency agg map-side combines to k x #labels rows, and the
    purity windows run over that tiny matrix."""
    e = table(spark, sf_dir, "embeddings")
    assigned = e.select(
        lloyd_assign(F.col("embedding"), _KMEANS_CENTS).alias("cluster_id"),
        "label",
    )
    contingency = assigned.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n")
    )
    wc = Window.partitionBy("cluster_id")
    return contingency.select(
        "cluster_id",
        "label",
        "n",
        F.sum("n").over(wc).cast("long").alias("cluster_total"),
        (F.max("n").over(wc).cast("double") / F.sum("n").over(wc)).alias("purity"),
    )


@query(
    "multimodal_audio_resample",
    oracle="""
    SELECT doc_id,
      8000 AS sample_rate_in,
      4000 AS sample_rate_out,
      CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
      CAST(100 + doc_id % 400 AS BIGINT) AS n_frames_in,
      CAST((100 + doc_id % 400) * 4000 // 8000 AS BIGINT) AS n_frames_out,
      CAST(44 + ((100 + doc_id % 400) * 4000 // 8000) * 2 * (1 + doc_id % 2)
           AS BIGINT) AS n_bytes_out,
      'wav' AS format
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio transform round-trip: render genuine PCM16 WAVs,
    nearest-neighbor resample 8 kHz -> 4 kHz inside ``resample_audio``
    (Arrow-batched mapInPandas, numpy fancy-index — no per-sample
    Python), re-encode a real WAV, and decode ITS header fields back.
    The oracle recomputes every structural field arithmetically (output
    frames = n_in * target // source; output bytes = 44-byte canonical
    header + 2 bytes x frames x channels), so a resampler that drops or pads
    frames, or re-encodes a malformed container, fails the value hash.
    Sample-level decimation/repeat correctness is pinned in pytest
    against a numpy reference."""
    from ..operators.multimodal import resample_audio

    payloads = _wav_payloads(spark, sf_dir)
    out = resample_audio(payloads, target_rate=4000)
    return out.select(
        "doc_id",
        "sample_rate_in",
        "sample_rate_out",
        "n_channels",
        "n_frames_in",
        "n_frames_out",
        (F.octet_length("payload_out")).cast("bigint").alias("n_bytes_out"),
        "format",
    )


@query(
    "multimodal_pixel_digest",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 'png'
                  WHEN doc_id % 4 = 1 THEN 'bmp'
                  WHEN doc_id % 4 = 2 THEN 'gif' ELSE 'jpgp' END AS format,
             CAST(8 + doc_id % 16 AS INTEGER) AS width,
             CAST(8 + (doc_id * 3) % 16 AS INTEGER) AS height
      FROM documents WHERE doc_id % 10 = 0
    ),
    px AS (
      SELECT d.doc_id, d.format, d.width, d.height, y.y, x.x,
        CASE WHEN d.format = 'gif' THEN (x.x + 3 * y.y) % 256
             WHEN d.format = 'jpgp'
               THEN ((x.x // 8) * 31 + (y.y // 8) * 17) % 256
             ELSE (x.x * 3 + y.y * 7) % 256 END AS r,
        CASE WHEN d.format = 'gif' THEN (((x.x + 3 * y.y) % 256) * 3) % 256
             WHEN d.format = 'jpgp'
               THEN ((x.x // 8) * 31 + (y.y // 8) * 17) % 256
             ELSE (x.x + y.y) % 256 END AS g,
        CASE WHEN d.format = 'gif' THEN (((x.x + 3 * y.y) % 256) * 7) % 256
             WHEN d.format = 'jpgp'
               THEN ((x.x // 8) * 31 + (y.y // 8) * 17) % 256
             ELSE (x.x * 5 + y.y * 11) % 256 END AS b
      FROM docs d, range(0, 24) y(y), range(0, 24) x(x)
      WHERE y.y < d.height AND x.x < d.width
    )
    SELECT doc_id, format, width, height,
           md5(string_agg(
             CAST(r AS VARCHAR) || ',' || CAST(g AS VARCHAR)
               || ',' || CAST(b AS VARCHAR),
             ';' ORDER BY y, x)) AS pixel_digest
    FROM px
    GROUP BY doc_id, format, width, height
    """,
)
def multimodal_pixel_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-level decode proof, externally checkable: render each doc's
    container (PNG / BMP / GIF / progressive JPEG), decode it back to
    the raw raster with the real pure-stdlib decoders, and digest the
    row-major 'r,g,b;...' pixel string. The DuckDB oracle REGENERATES
    the expected raster arithmetically (the test-pattern / palette
    formulas are pure integer expressions over x, y) and digests the
    same string — so a decoder that misreads any single pixel, channel
    order, row order, scanline filter, LZW code, palette entry, or
    progressive scan fails the value hash. This lifts pixel
    correctness from pytest-only into the external correctness gate.

    The 'jpgp' quarter (round 6) gate-proves the PROGRESSIVE JPEG
    decoder: its raster is grayscale and constant per 8x8 block, so at
    quant=1 every block has one exact integer DC coefficient and zero
    AC — DCT/IDCT float error stays below the rint threshold and the
    multi-scan successive-approximation round trip is BIT-EXACT
    (verified exhaustively over the dimension grid in pytest), which
    is what lets a lossy codec participate in a hash-equality oracle.

    Scale shape: one mapInPandas pass (Arrow-batched; render+decode
    cost is per-payload, parallelism = input partitioning); the digest
    is computed inside the same batch, so only (doc_id, 4 small
    columns) ever shuffle."""
    from ..operators.multimodal import _decode_pixels_real, image_bytes

    d = fan_out(
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id"),
        "doc_id",
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from ..operators.jpegcodec import encode_progressive_jpeg

        fmts = ["png", "bmp", "gif", "jpgp"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                fmt = fmts[i % 4]
                w, h = 8 + i % 16, 8 + (i * 3) % 16
                if fmt == "jpgp":
                    xs, ys = np.arange(w), np.arange(h)
                    v = (
                        (xs[None, :] // 8) * 31 + (ys[:, None] // 8) * 17
                    ) % 256
                    rgb = np.stack([v, v, v], axis=-1).astype(np.uint8)
                    payload = encode_progressive_jpeg(rgb, quant=1)
                else:
                    payload = image_bytes(fmt, w, h)
                px = _decode_pixels_real(payload)
                s = ";".join(
                    f"{r},{g},{b}" for row in px for (r, g, b) in row
                )
                rows.append(
                    (i, fmt, w, h, hashlib.md5(s.encode()).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "format", "width", "height", "pixel_digest"],
            )

    return d.mapInPandas(
        gen,
        "doc_id long, format string, width int, height int, pixel_digest string",
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication" — public research). Cluster the embedding space, then
# search for near-duplicates ONLY within each cluster: pairwise cost
# drops from O(N^2) to O(sum |cluster|^2), the property that makes
# embedding dedup feasible at 100 TB (k scales with sqrt(N), cluster
# populations stay bounded).
# ---------------------------------------------------------------------------
_SEMDEDUP_DISTS, _SEMDEDUP_ASSIGN = sql_lloyd_assign_parts(_KMEANS_CENTS)


@query(
    "dedup_semdedup_prune",
    oracle=f"""
    WITH {vec_corpus_cte(bound=400)},
    assigned AS (
      SELECT vec_id, embedding, {_SEMDEDUP_ASSIGN} AS cluster_id
      FROM (
        SELECT vec_id, embedding,
        {_SEMDEDUP_DISTS}
        FROM vecs)
    ),
    normed AS (
      SELECT vec_id, embedding, cluster_id,
             sqrt({sql_dot("embedding", "embedding")}) AS nrm
      FROM assigned
    ),
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM normed a JOIN normed b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
    )
    SELECT n.vec_id, n.cluster_id,
           (p.vec_id IS NOT NULL) AS is_pruned
    FROM normed n LEFT JOIN pruned p ON p.vec_id = n.vec_id
    """,
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the synthetic corpus (which plants exact dups at
    vec_id+10000): assign every vector to its nearest of 8 literal
    centroids (the shared md5-seeded quantizer), then mark a vector
    pruned when a lower-id co-cluster member sits above cosine 0.35 —
    the min-id survivor policy, engine-exact via ordered double folds.

    Scale shape: assignment is a pure Column expression over the scan
    (zero shuffle, centroids are literals); the pairwise search is an
    equi-self-join ON cluster_id — never all-pairs — and the survivor
    marking is one distinct + left join. At production scale the
    cluster count grows with sqrt(N) so per-cluster populations (and
    the only quadratic term) stay bounded; the Spark plan is the
    paper's exact algorithm with the k-means replaced by the same
    deterministic quantizer the kmeans/purity queries already prove.
    Implementation: ``operators/similarity.py::semdedup_prune``."""
    from ..operators.similarity import semdedup_prune

    vecs = vec_corpus(spark, sf_dir, bound=400)
    return semdedup_prune(vecs, _KMEANS_CENTS, tau=0.35)


# ---------------------------------------------------------------------------
# IVF + PQ with residual encoding (FAISS "IVFADC", Jegou et al. 2011
# §IV): coarse-quantize to a cell, PQ-encode the residual
# x - coarse[cell], search only the query's cell with asymmetric
# distance. The composition of the two gated index structures
# (ann_ivf_bucketed, ann_pq_adc_topk) — and the layout a 100 TB
# deployment actually ships: m bytes/vector, ~N/K candidates/query.
# ---------------------------------------------------------------------------
def _sql_coarse_values(cents: list[list[float]]) -> str:
    rows = ", ".join(
        f"({j}, [{', '.join(repr(x) for x in cent)}])"
        for j, cent in enumerate(cents)
    )
    return f"(VALUES {rows}) AS coarse(cell, ccent)"


_IVFPQ_RESID_SUBDIST = (
    "CAST(floor(list_reduce(list_transform(range(1, {ds1}), "
    "i -> (CAST(w.embedding[s * {ds} + i] AS DOUBLE) - w.ccent[s * {ds} + i] - cent[i]) "
    "* (CAST(w.embedding[s * {ds} + i] AS DOUBLE) - w.ccent[s * {ds} + i] - cent[i])), "
    "(a, b) -> a + b) * 1000000 + 0.5) AS BIGINT)"
).format(ds=_PQ_DS, ds1=_PQ_DS + 1)


@query(
    "ann_ivfpq_residual_topk",
    oracle=f"""
    WITH coarse AS (SELECT * FROM {_sql_coarse_values(_KMEANS_CENTS)}),
    cents AS (SELECT * FROM {sql_pq_centroid_values(_PQ_BOOKS)}),
    assigned AS (
      SELECT vec_id, embedding, {_SEMDEDUP_ASSIGN} AS cell
      FROM (
        SELECT vec_id, embedding,
        {_SEMDEDUP_DISTS}
        FROM embeddings)
    ),
    w AS (
      SELECT a.vec_id, a.embedding, a.cell, co.ccent
      FROM assigned a JOIN coarse co ON co.cell = a.cell
    ),
    codes AS (
      SELECT w.vec_id AS neighbor_id, w.cell, s,
             CAST(min({_IVFPQ_RESID_SUBDIST} * {_PQ_KS} + c)
                  % {_PQ_KS} AS INT) AS code
      FROM w CROSS JOIN cents
      GROUP BY w.vec_id, w.cell, s
    ),
    qtab AS (
      SELECT w.vec_id AS query_id, w.cell AS qcell, s, c AS code,
             {_IVFPQ_RESID_SUBDIST} AS partial_q
      FROM w CROSS JOIN cents
      WHERE w.vec_id % 100 = 0
    ),
    scored AS (
      SELECT query_id, neighbor_id, CAST(SUM(partial_q) AS BIGINT) AS adc_q1e6
      FROM codes JOIN qtab
        ON codes.s = qtab.s AND codes.code = qtab.code
       AND codes.cell = qtab.qcell
      WHERE query_id != neighbor_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adc_q1e6 FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_q1e6, neighbor_id
      ) AS rank
      FROM scored
    )
    WHERE rank <= 5
    """,
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC top-5 for every 100th vector: the same coarse
    quantizer the kmeans/purity/semdedup queries prove (8 literal
    md5-seeded centroids, engine-exact L2 argmin), PQ codes computed
    on the residual x - coarse[cell], candidates confined to the
    query's own cell (nprobe=1), ranked by exact-bigint asymmetric
    distance. See ``operators/pq.py::ivfpq_adc_topk`` for the shuffle
    budget; the oracle replays cell assignment, residual code argmin,
    and ADC ranking in SQL so every stage is cross-engine
    bit-identical.

    The single-file local scan fans out before the 128-centroid
    residual projection — INSIDE the operator, after the coarse-cell
    projection, so the exchange-pushed isnotnull(cell) filter tests a
    column instead of re-running the coarse argmin fold below the
    exchange (round 15; see ivfpq_adc_topk)."""
    from ..operators.pq import ivfpq_adc_topk

    e = table(spark, sf_dir, "embeddings")
    return ivfpq_adc_topk(
        e,
        _KMEANS_CENTS,
        _PQ_BOOKS,
        id_col="vec_id",
        query_pred=F.col("vec_id") % 100 == 0,
        k=5,
        fan_out_partitions=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# Dedup discovery recall: evaluate the LSH candidate generator against
# the corpus's PLANTED ground truth (near dups at +100000, exact dups
# at +200000) — the dedup-family twin of ann_recall_eval. Banding
# theory (4 bands x 3 rows) makes exact-dup recall 1.0 by construction
# (identical signatures match every band); near-dup recall measures
# how many suffix-mutated pairs the banding still catches.
# ---------------------------------------------------------------------------
from .registry import ORACLE as _ORACLE  # noqa: E402  (post-registration)


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH cand AS ({_ORACLE["dedup_minhash_lsh"]}),
    truth AS (
      SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b,
             'near' AS dup_class
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id AS doc_a, doc_id + 200000 AS doc_b,
             'exact' AS dup_class
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT t.dup_class,
           count(*) AS n_truth,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS recall
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY t.dup_class
    ORDER BY t.dup_class
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate stage against the planted
    duplicate pairs, by duplicate class. The eval's LSH run is the
    SAME operator the gated dedup_minhash_lsh query proves
    (``operators/dedup.py::lsh_candidate_pairs``), and the oracle
    embeds that query's full SQL as a CTE, so the measured recall —
    not just the pair set — is cross-engine exact.

    Scale shape: candidates come from the banded bucket join (never
    all-pairs); the ground-truth set is corpus-metadata-sized and the
    recall aggregate is two rows. An evaluation harness this cheap is
    what lets a 100 TB dedup run tune its band/row trade-off on a
    sample before committing the full sweep."""
    c = corpus(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    cand = lsh_candidate_pairs(c, num_hashes=12, band_rows=3).withColumn(
        "hit", F.lit(1)
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 100000).alias("doc_b"),
        F.lit("near").alias("dup_class"),
    )
    exact = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 200000).alias("doc_b"),
        F.lit("exact").alias("dup_class"),
    )
    truth = near.unionByName(exact)
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy("dup_class")
        .agg(
            F.count("*").alias("n_truth"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "dup_class",
            "n_truth",
            "n_found",
            (F.col("n_found").cast("double") / F.col("n_truth")).alias("recall"),
        )
        .orderBy("dup_class")
    )


# ---------------------------------------------------------------------------
# ANN: SQ8 scalar quantization (the int8 warm tier between raw floats
# and PQ codes — d bytes/vector, no codebook training).
# ---------------------------------------------------------------------------

from ..operators.sq import (  # noqa: E402
    sql_sq8_codes,
    sql_sq8_dequant,
    sql_sq8_params_cte,
    sq8_params,
    sq8_topk,
)

_SQ_DIM = 64
# The corpus encoded to SQ8 codes (``codes``) and decoded back (``deq``)
# under the ``sqparams`` CTE.
_SQL_SQ8_DEQ = f"""codes AS (
      SELECT vec_id, {sql_sq8_codes("embedding", _SQ_DIM)} AS codes
      FROM embeddings, sqparams
    ),
    deq AS (
      SELECT vec_id, {sql_sq8_dequant("codes", _SQ_DIM)} AS deq
      FROM codes, sqparams
    )"""


@query(
    "ann_sq8_topk",
    oracle=f"""
    WITH {sql_sq8_params_cte("embeddings", "embedding", _SQ_DIM)},
    {_SQL_SQ8_DEQ},
    scored AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             CAST(FLOOR(list_reduce(
               list_transform(range(1, {_SQ_DIM + 1}),
                 i -> (CAST(q.embedding[i] AS DOUBLE) - d.deq[i])
                    * (CAST(q.embedding[i] AS DOUBLE) - d.deq[i])),
               (x, y) -> x + y) * 1000000.0 + 0.5) AS BIGINT) AS adc_q1e6
      FROM embeddings q JOIN deq d ON q.vec_id != d.vec_id
      WHERE q.vec_id % 100 = 0
    )
    SELECT query_id, neighbor_id, rank, adc_q1e6 FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_q1e6, neighbor_id
      ) AS rank
      FROM scored
    )
    WHERE rank <= 10
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (``operators/sq.py``): per-dimension
    int8 affine codes (4x smaller than float32, no training beyond a
    d-constant min/max pass), exact-integer asymmetric top-10. The
    oracle restates training, encoding, dequantization and ranking in
    SQL, so the full quantize->search path is bit-identical cross-
    engine. Completes the quantization ladder: raw floats (exact) >
    SQ8 (this) > IVF cells > PQ codes > residual IVF+PQ.

    100 TB story: training shuffles d constant keys; the 1-row range
    table broadcasts into the encode scan (zero shuffle); queries
    broadcast; the only wide op is the per-query top-k window."""
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    params = sq8_params(e, "embedding")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return sq8_topk(e, queries, params, id_col="vec_id", k=10)


_SQ_RECALL_K = 5

_SQL_SQ_L2 = (
    "CAST(FLOOR(list_reduce("
    "list_transform(range(1, {dim1}), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
    "(x, y) -> x + y) * 1000000.0 + 0.5) AS BIGINT)"
)


@query(
    "ann_sq8_recall_eval",
    oracle=f"""
    WITH {sql_sq8_params_cte("embeddings", "embedding", _SQ_DIM)},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_SQL_SQ_L2.format(a="q.embedding", b="c.embedding", dim1=_SQ_DIM + 1)},
                          c.vec_id
               ) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rank <= {_SQ_RECALL_K}
    ),
    {_SQL_SQ8_DEQ},
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(FLOOR(list_reduce(
                   list_transform(range(1, {_SQ_DIM + 1}),
                     i -> (CAST(q.embedding[i] AS DOUBLE) - d.deq[i])
                        * (CAST(q.embedding[i] AS DOUBLE) - d.deq[i])),
                   (x, y) -> x + y) * 1000000.0 + 0.5) AS BIGINT), d.vec_id
               ) AS rank
        FROM embeddings q JOIN deq d ON q.vec_id != d.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rank <= {_SQ_RECALL_K}
    ),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST({_SQ_RECALL_K} AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {_SQ_RECALL_K}.0 AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """,
)
def ann_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SQ8 tier against EXACT squared-L2 ground truth
    over the raw floats — the pure quantization-loss metric (same
    distance family on both sides, unlike a cosine-vs-L2 mix), the
    number that decides whether the int8 tier can serve directly or
    must rescore into floats. Ground truth and candidate ranking both
    use the exact-bigint micro-unit fold, so the measured recall itself
    is cross-engine exact (ann_recall_eval precedent).

    Scale shape: ground truth only for the bounded query sample; the
    corpus-sized work is the SQ8 plan's own linear path; the hit join
    keys on (query_id, neighbor_id) and aggregates map-side."""
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cand = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    pairs = cand.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
    sq_l2 = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("cvec"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d_q1e6", "neighbor_id")
    exact = (
        pairs.select(
            "query_id",
            "neighbor_id",
            F.floor(sq_l2 * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("d_q1e6"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SQ_RECALL_K)
        .select("query_id", "neighbor_id")
    )
    approx = (
        ann_sq8_topk(spark, sf_dir)
        .filter(F.col("rank") <= _SQ_RECALL_K)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(_SQ_RECALL_K).cast("bigint").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / float(_SQ_RECALL_K)
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Video: AVI/MJPEG container metadata + sampled-frame pixel decode.
# ---------------------------------------------------------------------------


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MJPEG-AVI payloads over every 20th document:
    dims/frame-count/rate are pure integer functions of doc_id, so the
    DuckDB oracle regenerates every structural field (and every pixel)
    arithmetically."""
    from ..operators.video import mjpeg_video_bytes

    # fan_out (round 14): the AVI render + downstream parse/decode are
    # Arrow-batched Python kernels; on the single-row-group scan they
    # all ran in ONE Python worker. The exchange carries only doc_id.
    d = fan_out(
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id"),
        "doc_id",
    )

    # parameterize on k = doc_id // 20: doc_id % 20 == 0 makes doc_id %
    # {4,5} constant, which would collapse the fixture to 2-frame
    # 8-px-tall 10-fps videos and never exercise later sampled frames or
    # varied rates
    def video(k: int) -> bytes:
        return mjpeg_video_bytes(
            k,
            width=16 + (k % 3) * 8,
            height=8 + (k % 5) * 8,
            n_frames=2 + k % 4,
            rate=10 + k % 5,
            scale=1,
        )

    return _payloads(d, lambda i: video(i // 20))


@query(
    "multimodal_video_meta",
    oracle="""
    SELECT doc_id,
      'avi' AS container,
      'mjpg' AS codec,
      CAST(16 + ((doc_id // 20) % 3) * 8 AS INTEGER) AS width,
      CAST(8 + ((doc_id // 20) % 5) * 8 AS INTEGER) AS height,
      CAST(2 + (doc_id // 20) % 4 AS INTEGER) AS n_frames,
      CAST(10 + (doc_id // 20) % 5 AS INTEGER) AS fps_num,
      CAST(1 AS INTEGER) AS fps_den,
      CAST((2 + (doc_id // 20) % 4) * 1000 // (10 + (doc_id // 20) % 5) AS BIGINT) AS duration_ms
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level video routing pass: render genuine MJPEG AVIs
    (full RIFF structure incl. idx1 seek index), parse them back with
    the real pure-stdlib AVI parser, and emit structural metadata —
    WITHOUT decoding any frame. The oracle recomputes every field
    arithmetically (duration = frames * 1000 * scale / rate, dims and
    rate from the doc_id formulas), so a parser that misreads any
    header field, drops a movi chunk, or disagrees with the idx1 index
    fails the value hash.

    Scale shape: one Arrow-batched mapInPandas pass; header-only parse
    cost per payload (frame bytes untouched); only 9 small typed
    columns shuffle. This is the cheap everything-pass a 100 TB crawl
    pipeline runs before committing to frame decode."""
    from ..operators.video import video_meta

    return video_meta(_video_corpus(spark, sf_dir))


@query(
    "multimodal_video_frames",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             CAST(16 + ((doc_id // 20) % 3) * 8 AS INTEGER) AS width,
             CAST(8 + ((doc_id // 20) % 5) * 8 AS INTEGER) AS height,
             CAST(2 + (doc_id // 20) % 4 AS INTEGER) AS n_frames
      FROM documents WHERE doc_id % 20 = 0
    ),
    frames AS (
      SELECT d.doc_id, d.width, d.height, d.n_frames,
             CAST(f.f AS INTEGER) AS frame_index
      FROM docs d, range(0, 5) f(f)
      WHERE f.f < d.n_frames AND f.f % 2 = 0
    ),
    px AS (
      SELECT fr.doc_id, fr.frame_index, fr.n_frames, fr.width, fr.height,
             y.y, x.x,
             ((x.x // 8) * 31 + (y.y // 8) * 17 + fr.frame_index * 29) % 256 AS v
      FROM frames fr, range(0, 40) y(y), range(0, 32) x(x)
      WHERE y.y < fr.height AND x.x < fr.width
    )
    SELECT doc_id, frame_index, n_frames, width, height,
           md5(string_agg(
             CAST(v AS VARCHAR) || ',' || CAST(v AS VARCHAR)
               || ',' || CAST(v AS VARCHAR),
             ';' ORDER BY y, x)) AS pixel_digest
    FROM px
    GROUP BY doc_id, frame_index, n_frames, width, height
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-frame pixel decode, externally checkable end-to-end:
    MJPEG AVI -> container parse -> every-2nd-frame sample (from the
    chunk index, so unsampled frames are never JPEG-decoded) -> real
    baseline-JPEG pixel decode -> row-major 'r,g,b;...' md5 digest.
    The fixture rasters are grayscale constant-per-8x8-block, so at
    quant=1 every block is one exact integer DC coefficient and the
    lossy round trip is bit-exact — the DuckDB oracle regenerates the
    expected pixels arithmetically and digests the same string. A
    single wrong pixel in any sampled frame of any container fails
    the value hash.

    Scale shape: decode bill scales with SAMPLED frames (1/N of total),
    parallelism = input partitioning, only (ids, dims, digest) shuffle."""
    from ..operators.video import sample_video_frames

    return sample_video_frames(_video_corpus(spark, sf_dir), every_n=2)


@query(
    "multimodal_video_routing",
    oracle="""
    SELECT doc_id,
      CASE (doc_id // 10) % 5
        WHEN 0 THEN 'avi-mjpg' WHEN 1 THEN 'avi-xvid'
        WHEN 2 THEN 'avi-h264' WHEN 3 THEN 'avi-corrupt'
        ELSE 'video-unknown' END AS format,
      CASE WHEN (doc_id // 10) % 5 <= 2
           THEN CAST(16 + ((doc_id // 10) % 3) * 8 AS INTEGER) END AS width,
      CASE WHEN (doc_id // 10) % 5 <= 2
           THEN CAST(8 + ((doc_id // 10) % 4) * 8 AS INTEGER) END AS height,
      CASE WHEN (doc_id // 10) % 5 <= 2
           THEN CAST(2 + (doc_id // 10) % 3 AS INTEGER) END AS n_frames
    FROM documents WHERE doc_id % 10 = 7
    """,
)
def multimodal_video_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video quarantine routing, oracle-gated (the AVI analog of the
    JPEG-variant and WAV-coding quarantines): synthesize decodable
    MJPEG AVIs alongside structurally valid foreign-codec AVIs
    (XVID/H264 stream handlers — headers parse, frames are opaque),
    truncated containers, and non-RIFF bytes; route every payload to a
    specific label with NULL metadata where the container can't be
    trusted. A crawl pipeline filters `avi-mjpg` into frame decode and
    quarantines the rest instead of task-failing on the first
    truncated container."""
    from ..operators.video import route_videos, variant_video_bytes

    # fan_out NOT applied (round 14): render+header-parse here is ~0.4 s
    # single-task at sf0.1; the A/B measured the added exchange as a net
    # loss (0.41 s -> 0.81 s). Only the frame-DECODE paths pay off.
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 7).select("doc_id")
    variants = ["mjpg", "xvid", "h264", "corrupt", "unknown"]

    def video(k: int) -> bytes:
        return variant_video_bytes(
            variants[k % 5],
            width=16 + (k % 3) * 8,
            height=8 + (k % 4) * 8,
            n_frames=2 + k % 3,
        )

    return route_videos(_payloads(d, lambda i: video(i // 10)))
