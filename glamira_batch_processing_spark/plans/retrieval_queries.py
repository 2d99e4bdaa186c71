"""Retrieval / graph-ranking / data-selection contract queries: BM25
keyword search, fixed-point PageRank, Gopher-style hard document
filtering, IVF recall evaluation, and DSIR importance weighting.

These close the last training-data-pipeline gaps the earlier rounds
left: full-text *retrieval* over the corpus (BM25 is the standard
first-stage ranker before embedding rerank), an *iterative graph
algorithm* beyond connected components (PageRank is the canonical
importance measure for crawl frontiers and citation-style corpus
weighting), the Gopher *hard filter gate* (Rae et al. 2021) that
large-scale text pipelines run before any soft quality scoring, the
recall@k harness that qualifies the approximate ANN index against
exact ground truth, and DSIR-style importance weighting (Xie et al.
2023) for steering the training mix toward a target domain.

Every query keeps the registry's engine-exactness convention: all
accumulation is exact integer; doubles appear only in explicitly
ordered expression trees that Spark and DuckDB evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, table

# ---------------------------------------------------------------------------
# BM25 keyword retrieval.
# ---------------------------------------------------------------------------

# Fixed conjunctive query over the corpus vocabulary. Terms are chosen
# to have distinct document frequencies so the IDF weighting actually
# reorders results.
_BM25_TERMS = ("spark", "vector", "window")
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOPK = 10


def _bm25_score_sql(i: int) -> str:
    """One term's BM25 contribution — the IDENTICAL arithmetic string is
    evaluated by Spark (F.expr) and DuckDB, so the double result is
    bit-exact: every operand is an exact integer (tf, df, n_docs, dl,
    sum_dl) and the expression tree is fully parenthesised.

    IDF is the rational Robertson form (n - df + 0.5)/(df + 0.5)
    without the ln(): ln is monotone, so per-term ordering is
    unchanged, and ln() is not cross-engine ulp-stable. A production
    deployment would apply ln per term; the plan shape is identical.
    """
    k1, b = _BM25_K1, _BM25_B
    return (
        f"(((CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE)) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf{i} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ((1.0 - {b})"
        f" + ({b} * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE)"
        f" / CAST(n_docs AS DOUBLE)))))"
    )


_BM25_SCORE_SQL = " + ".join(
    f"(CASE WHEN tf{i} > 0 THEN {_bm25_score_sql(i)} ELSE 0.0 END)"
    for i in range(len(_BM25_TERMS))
)


# Per-doc length and query-term counts (``tf``) and the corpus totals
# BM25 needs (``stats``).
_SQL_BM25_STATS = f"""
    WITH tf AS (
      SELECT doc_id,
             len(str_split(lower(text), ' ')) AS dl,
             {", ".join(
                 f"len(list_filter(str_split(lower(text), ' '),"
                 f" w -> w = '{t}')) AS tf{i}"
                 for i, t in enumerate(_BM25_TERMS)
             )}
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
             {", ".join(
                 f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
                 for i in range(len(_BM25_TERMS))
             )}
      FROM tf
    )"""


@query(
    "search_bm25_topk",
    oracle=f"""{_SQL_BM25_STATS},
    scored AS (
      SELECT doc_id, dl,
             {", ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))},
             {_BM25_SCORE_SQL} AS bm25
      FROM tf CROSS JOIN stats
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           {", ".join(
               f"CAST(tf{i} AS BIGINT) AS tf{i}"
               for i in range(len(_BM25_TERMS))
           )},
           bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k keyword retrieval (Robertson/Sparck Jones), the
    standard lexical first-stage ranker. The plan is the 100 TB shape:

    - per-doc term frequencies come from ``size(filter(words, ...))``
      — a scan-fused array fold, NO token explode and NO (doc, term)
      shuffle, unlike the classic inverted-index formulation;
    - corpus statistics (N, sum(dl), per-term df) reduce to ONE row via
      a map-side-combinable aggregate, then broadcast back with a
      1-row cross join;
    - scoring is a pure projection; the global top-k runs as
      TakeOrderedAndProject (per-partition heaps + k-row driver merge),
      so nothing resembling a global sort materialises.

    Scores are cross-engine bit-exact: tf/df/dl/N are exact integers
    and each term's contribution is one shared, fully parenthesised
    arithmetic string (see ``_bm25_score_sql``) summed in fixed order.
    """
    words = F.split(F.lower(F.col("text")), " ")

    def _tf(term: str):
        # NB: a ``lambda w, t=t`` default-arg capture would make PySpark
        # treat this as the (element, index) two-arg form — use a closure.
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)]
    tf = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words).alias("dl"), *tf_cols
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = tf.crossJoin(F.broadcast(stats)).withColumn(
        "bm25", F.expr(_BM25_SCORE_SQL)
    )
    return (
        scored.select(
            "doc_id",
            F.col("dl").cast("bigint").alias("dl"),
            *[
                F.col(f"tf{i}").cast("bigint").alias(f"tf{i}")
                for i in range(len(_BM25_TERMS))
            ],
            "bm25",
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# PageRank (fixed-point integer arithmetic, unrolled iterations).
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 4


def _pr_edges_sql() -> str:
    """Directed part-transition graph: within each order, an edge from
    the part at line n to the part at line n+1 (distinct pairs)."""
    return """
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey
       AND b.l_linenumber = a.l_linenumber + 1
      WHERE a.l_partkey <> b.l_partkey
    """


def _pr_oracle() -> str:
    its = []
    prev = "it0"
    for k in range(1, _PR_ITERS + 1):
        its.append(
            f"""
    it{k} AS (
      SELECT n.node,
             c.base + (85 * COALESCE(s.m, 0)) // 100 AS r
      FROM nodes n CROSS JOIN consts c
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // e.outdeg) AS m
        FROM edges_w e JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""
        )
        prev = f"it{k}"
    return f"""
    WITH edges AS ({_pr_edges_sql()}),
    outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    edges_w AS (
      SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outdeg o ON o.node = e.src
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    consts AS (
      SELECT CAST({_PR_SCALE} AS BIGINT) // COUNT(*) AS init,
             (15 * (CAST({_PR_SCALE} AS BIGINT) // COUNT(*))) // 100 AS base
      FROM nodes
    ),
    it0 AS (SELECT node, (SELECT init FROM consts) AS r FROM nodes),
    {",".join(its)}
    SELECT node AS part_key, CAST(r AS BIGINT) AS rank_fp
    FROM {prev}
    ORDER BY rank_fp DESC, part_key
    LIMIT 50
    """


@query("graph_pagerank_parts", oracle=_pr_oracle())
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part-transition graph (edges = consecutive
    line items within an order), {iters} power-iteration rounds with
    damping 0.85 — the canonical iterative graph algorithm for crawl
    frontier prioritisation and corpus-document weighting.

    All arithmetic is FIXED-POINT BIGINT (scale 1e12): init mass,
    per-edge contribution ``r div outdeg`` and the damped update
    ``base + (85 * in_mass) div 100`` are integer ops that truncate
    identically on Spark and DuckDB, so four chained iterations stay
    bit-exact across engines — no float summation order to diverge.

    Scale shape (Pregel-lite): each round is ONE shuffle — edges
    pre-joined with outdegree carry contributions map-side, the
    groupBy(dst) sum combines partially, and the rank table joins back
    by node key. Edge and rank partitioning is stable across rounds so
    AQE reuses the layout; rounds are a fixed small constant (the
    driver holds no per-node state). The final top-50 is
    TakeOrderedAndProject, never a global sort.
    """
    from ..operators.graph import pagerank_fixed_point

    # Edge derivation: the oracle states the n -> n+1 relation as a
    # self-join; Spark builds the identical pair set with ONE shuffle —
    # group each order's (linenumber, part) pairs and emit the n+1
    # matches with an array-lambda cross within the (tiny, <= a few
    # line items) per-order array. Exact parity with the self-join was
    # verified at sf0.01 (29 074 identical edges); at scale this swaps
    # two join exchanges + sorts for one groupBy.
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    g = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_partkey").alias("pk"),
            )
        ).alias("a")
    )
    pairs = F.flatten(
        F.transform(
            F.col("a"),
            lambda e: F.transform(
                F.filter(F.col("a"), lambda f: f["ln"] == e["ln"] + 1),
                lambda f: F.struct(
                    e["pk"].alias("src"), f["pk"].alias("dst")
                ),
            ),
        )
    )
    edges = (
        g.select(F.explode(pairs).alias("p")).select("p.src", "p.dst")
    )
    ranks = pagerank_fixed_point(edges, iters=_PR_ITERS, scale=_PR_SCALE)
    return (
        ranks.select(F.col("node").alias("part_key"), "rank_fp")
        .orderBy(F.desc("rank_fp"), "part_key")
        .limit(50)
    )


graph_pagerank_parts.__doc__ = graph_pagerank_parts.__doc__.format(
    iters=_PR_ITERS
)


# ---------------------------------------------------------------------------
# Gopher-style hard filter gate.
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 40
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = "3.0"
_GOPHER_MAX_MWL = "10.0"
_GOPHER_MIN_STOP = 2
_GOPHER_MIN_DISTINCT = "0.2"


@query(
    "quality_gopher_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             str_split(lower(text), ' ') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             list_sum(list_transform(ws, w -> len(w))) AS sum_wlen,
             len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS n_stop,
             len(list_distinct(ws)) AS n_distinct
      FROM toks
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(n_stop AS BIGINT) AS n_stop,
           CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS distinct_ratio,
           n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
             AS pass_n_words,
           (CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE))
             BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
             AS pass_mean_word_len,
           n_stop >= {_GOPHER_MIN_STOP} AS pass_stopwords,
           (CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE))
             >= {_GOPHER_MIN_DISTINCT} AS pass_distinct,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
             AND ((CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE))
                  BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL})
             AND n_stop >= {_GOPHER_MIN_STOP}
             AND ((CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE))
                  >= {_GOPHER_MIN_DISTINCT})
             AS keep
    FROM m
    """,
)
def quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule hard document filter (Rae et al. 2021 §A1.1): word
    count in [40, 100k], mean word length in [3, 10], >= 2 stopword
    hits, and a
    minimum distinct-word ratio (degenerate-repetition guard). This is
    the cheap gate big pipelines run BEFORE soft quality scoring: every
    metric is a scan-fused array fold over the token list — zero
    shuffles, zero UDFs, scan-speed at 100 TB.

    Counts are exact integers; the two ratios are single IEEE
    divisions evaluated in the same expression order on both engines.
    """
    words = F.split(F.lower(F.col("text")), " ")
    m = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda a, x: a + x
        ).alias("sum_wlen"),
        F.size(
            F.filter(words, lambda w: (w == F.lit("the")) | (w == F.lit("a")))
        ).alias("n_stop"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    mwl = F.col("sum_wlen").cast("double") / F.col("n_words").cast("double")
    dr = F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
    pass_nw = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    pass_mwl = mwl.between(float(_GOPHER_MIN_MWL), float(_GOPHER_MAX_MWL))
    pass_stop = F.col("n_stop") >= _GOPHER_MIN_STOP
    pass_dist = dr >= float(_GOPHER_MIN_DISTINCT)
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        mwl.alias("mean_word_len"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        dr.alias("distinct_ratio"),
        pass_nw.alias("pass_n_words"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_stop.alias("pass_stopwords"),
        pass_dist.alias("pass_distinct"),
        (pass_nw & pass_mwl & pass_stop & pass_dist).alias("keep"),
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: IVF vs exact ground truth.
# ---------------------------------------------------------------------------

from ..operators.similarity import (  # noqa: E402
    ivf_bucket_scores,
    sql_dot,
    top_by_cosine,
)
from .datapipe_queries import (  # noqa: E402
    _SQL_NORMED,
    _sql_ivf_assigned,
    _sql_top_by_cosine,
)

_RECALL_K = 5
# Ground truth of the recall queries: each 100th vector's exact cosine
# top-k neighbor ids.
_SQL_EXACT_TOPK = f"""
    WITH {_SQL_NORMED},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {sql_dot("q.embedding", "c.embedding")}
                          / (q.nrm * c.nrm) DESC, c.vec_id
               ) AS rank
        FROM normed q JOIN normed c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rank <= {_RECALL_K}
    )"""


@query(
    "ann_recall_eval",
    oracle=f"""{_SQL_EXACT_TOPK},
    centroids AS (SELECT * FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, nrm, centroid_id FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {sql_dot("v.embedding", "c.embedding")}
                          / (v.nrm * c.nrm) DESC, c.vec_id
               ) AS rn
        FROM normed v CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {sql_dot("q.embedding", "c.embedding")}
                          / (q.nrm * c.nrm) DESC, c.vec_id
               ) AS rank
        FROM assigned q
        JOIN assigned c
          ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rank <= {_RECALL_K}
    ),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {_RECALL_K}.0
             AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation harness for the IVF index: per query, the
    fraction of the EXACT cosine top-k (brute-force ground truth) that
    the IVF bucket search recovers — the metric that tunes
    nprobe/n_cells before a production rollout. Composes the two
    registered ANN paths (``ann_cosine_topk`` ground truth,
    ``ann_ivf_bucketed`` candidate search) so the evaluation inherits
    their bit-exact scoring; the overlap join and the recall division
    are engine-exact (integer hit counts, one IEEE division).

    Scale shape: ground truth is computed only for the (small,
    broadcastable) query sample — the corpus-sized work stays the two
    ANN plans' own linear paths; the hit join keys on (query_id,
    neighbor_id) and aggregates map-side.
    """
    from .datapipe_queries import ann_cosine_topk, ann_ivf_bucketed

    exact = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= _RECALL_K)
        .select("query_id", "neighbor_id")
    )
    approx = ann_ivf_bucketed(spark, sf_dir).select("query_id", "neighbor_id")
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
            F.lit(_RECALL_K).cast("bigint").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / float(_RECALL_K)
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting for data selection.
# ---------------------------------------------------------------------------

# Target domain: three of the twenty sources stand in for the
# "high-quality" distribution (in DSIR terms: the target corpus whose
# n-gram distribution training data should be steered toward).
_DSIR_TARGETS = ("src0", "src1", "src2")


@query(
    "mix_importance_weights",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             source IN {_DSIR_TARGETS} AS is_target,
             str_split(lower(text), ' ') AS ws
      FROM documents
    ),
    bg AS (
      SELECT doc_id, is_target,
             CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15))
                  AS BIGINT) AS whash
      FROM w, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    cc AS (
      SELECT whash,
             COUNT(*) AS r_cnt,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_cnt
      FROM bg GROUP BY whash
    ),
    totals AS (
      SELECT SUM(r_cnt) AS r_total, SUM(t_cnt) AS t_total FROM cc
    ),
    scored AS (
      SELECT b.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(c.t_cnt) AS BIGINT) AS sum_target_count,
             CAST(SUM(c.r_cnt) AS BIGINT) AS sum_raw_count
      FROM bg b JOIN cc c USING (whash)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.sum_target_count, 0) AS sum_target_count,
           COALESCE(s.sum_raw_count, 0) AS sum_raw_count,
           CASE WHEN s.sum_raw_count > 0 THEN
             (CAST(s.sum_target_count AS DOUBLE)
              * CAST(t2.r_total AS DOUBLE))
             / (CAST(s.sum_raw_count AS DOUBLE)
                * CAST(t2.t_total AS DOUBLE))
           END AS importance,
           CASE WHEN s.sum_raw_count > 0 THEN
             ((CAST(s.sum_target_count AS DOUBLE)
               * CAST(t2.r_total AS DOUBLE))
              / (CAST(s.sum_raw_count AS DOUBLE)
                 * CAST(t2.t_total AS DOUBLE))) >= 1.0
           END AS selected
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN scored s USING (doc_id)
    CROSS JOIN totals t2
    """,
)
def mix_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) —
    the engine-exact analog: weight each raw document by how much its
    bigram distribution looks like a target domain (here: three of the
    twenty sources). The weight is the expected-count ratio

        (sum of target bigram counts / sum of corpus bigram counts)
        normalised by (t_total / r_total),

    i.e. the ratio form of DSIR's hashed-n-gram likelihood ratio —
    DSIR sums per-bigram log-probabilities, but ln() is not
    cross-engine ulp-stable, so the contract form accumulates EXACT
    integer counts and performs one fixed-order double expression at
    the end; `selected` (weight >= 1) is the resampling gate.

    Scale shape: ONE bigram count pass produces both the raw and the
    target counts (conditional sum — no second scan), the count table
    shuffles and is never broadcast (it grows with the corpus), the
    per-doc score joins doc bigrams to counts by hash — identical to
    ``quality_bigram_familiarity``'s proven 100 TB shape plus a 1-row
    totals broadcast.
    """
    docs = table(spark, sf_dir, "documents")
    # fan_out deliberately NOT applied here (round 14): the single-task
    # pre-checkpoint segment is only ~0.4 s at sf0.1 and the sandwich
    # A/B measured the added exchange + planning as a net loss
    # (1.25 s -> 1.54 s).
    flagged = docs.select(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGETS).alias("is_target"),
        "text",
    )
    # word_windows keeps only (id, pos, whash); inline the same
    # construction with the is_target flag riding along.
    ws = F.split(F.lower(F.col("text")), " ")
    sz = F.greatest(F.size(ws) - 1, F.lit(0))
    z = F.arrays_zip(F.slice(ws, 1, sz), F.slice(ws, 2, sz))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.col("g.0"), F.col("g.1"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    bg = (
        flagged.select("doc_id", "is_target", F.explode(z).alias("g"))
        .select("doc_id", "is_target", h.alias("whash"))
        # bg feeds BOTH the corpus count and the per-doc score join;
        # without materialization the md5 bigram explode runs twice
        # (measured 2x cost at sf0.1). Lazy local checkpoint = compute
        # once, reuse (components/pagerank precedent).
        .localCheckpoint(eager=False)
    )
    cc = bg.groupBy("whash").agg(
        F.count("*").alias("r_cnt"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_cnt"),
    )
    totals = cc.agg(
        F.sum("r_cnt").alias("r_total"), F.sum("t_cnt").alias("t_total")
    )
    scored = (
        bg.join(cc, "whash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("t_cnt").cast("bigint").alias("sum_target_count"),
            F.sum("r_cnt").cast("bigint").alias("sum_raw_count"),
        )
    )
    imp = (
        F.col("sum_target_count").cast("double")
        * F.col("r_total").cast("double")
    ) / (
        F.col("sum_raw_count").cast("double")
        * F.col("t_total").cast("double")
    )
    return (
        # doc_id is the documents PK — no distinct pass needed (the
        # oracle's SELECT DISTINCT is a no-op on unique keys).
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("sum_target_count", F.lit(0)).alias(
                "sum_target_count"
            ),
            F.coalesce("sum_raw_count", F.lit(0)).alias("sum_raw_count"),
            F.when(F.col("sum_raw_count") > 0, imp).alias("importance"),
            F.when(F.col("sum_raw_count") > 0, imp >= 1.0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-probe recall curve: recall@5 as a function of nprobe.
# ---------------------------------------------------------------------------

_PROBE_LEVELS = (1, 2, 4)


def _recall_multiprobe_oracle() -> str:
    levels = []
    for p in _PROBE_LEVELS:
        levels.append(
            f"""
      SELECT {p} AS nprobe, query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot("q.embedding", "c.embedding")}
                          / (q.nrm * c.nrm) DESC, c.vec_id
               ) AS rank
        FROM (
          SELECT a.vec_id AS query_id, a.embedding, a.nrm, pr.centroid_id
          FROM assigned a
          JOIN probes pr ON pr.query_id = a.vec_id AND pr.rn <= {p}
          WHERE a.vec_id % 100 = 0
        ) q
        JOIN assigned c
          ON c.centroid_id = q.centroid_id AND c.vec_id != q.query_id
      ) WHERE rank <= {_RECALL_K}"""
        )
    approx_union = "\n      UNION ALL".join(levels)
    return f"""{_SQL_EXACT_TOPK},
    centroids AS (SELECT * FROM normed WHERE vec_id < 8),
    ranked AS (
      SELECT v.vec_id, v.embedding, v.nrm, c.vec_id AS centroid_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {sql_dot("v.embedding", "c.embedding")}
                        / (v.nrm * c.nrm) DESC, c.vec_id
             ) AS rn
      FROM normed v CROSS JOIN centroids c
    ),
    assigned AS (
      SELECT vec_id, embedding, nrm, centroid_id FROM ranked WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, centroid_id, rn FROM ranked
      WHERE rn <= {max(_PROBE_LEVELS)}
    ),
    approx AS ({approx_union}
    ),
    hits AS (
      SELECT a.nprobe, e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.nprobe, e.query_id
    ),
    grid AS (
      SELECT p.nprobe, q.query_id
      FROM (SELECT DISTINCT query_id FROM exact) q
      CROSS JOIN (SELECT unnest({list(_PROBE_LEVELS)}) AS nprobe) p
    )
    SELECT g.nprobe, g.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {_RECALL_K}.0
             AS recall_at_k
    FROM grid g
    LEFT JOIN hits h
      ON h.nprobe = g.nprobe AND h.query_id = g.query_id
    """


@query("ann_recall_multiprobe", oracle=_recall_multiprobe_oracle())
def ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE: recall@5 per query at nprobe in {1, 2, 4}
    — each query probes its nprobe nearest centroids' buckets instead
    of only the closest, trading candidate volume for recall. This is
    the measurement that picks the production nprobe; recall must rise
    monotonically in expectation and reaches 1.0 at nprobe = K
    (pinned separately for the Arrow ``ivf_search_np`` in pytest).

    Scale shape: identical to ``ann_recall_eval`` except the probe
    side fans out to the deepest level's nprobe (still
    query-sample-sized); the corpus is scanned and bucketed ONCE, ONE
    bucket equi-join scores every level's candidates, and ONE window
    over (nprobe, query_id) ranks them, so each run does the same work.
    """
    from ..operators.similarity import ivf_rank

    from .datapipe_queries import ann_cosine_topk

    exact = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= _RECALL_K)
        .select("query_id", "neighbor_id")
    )
    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    ranked = ivf_rank(e, cents)
    assigned = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "nrm", "centroid_id"
    )
    # One candidate join over the deepest probe level: each candidate
    # keeps the rank ``rn`` of the probed centroid, and a level keeps
    # the candidates with rn <= nprobe. A neighbor sits in one bucket
    # and a query's probed centroids are distinct, so each level's
    # candidates are the ones its own probe join would find.
    probes = ranked.filter(
        (F.col("rn") <= max(_PROBE_LEVELS)) & (F.col("vec_id") % 100 == 0)
    ).select("vec_id", "embedding", "nrm", "centroid_id", "rn")
    scored = ivf_bucket_scores(probes, assigned).withColumn(
        "nprobe", F.explode(F.array(*[F.lit(p) for p in _PROBE_LEVELS]))
    ).filter(F.col("rn") <= F.col("nprobe"))
    approx = top_by_cosine(scored, _RECALL_K, "nprobe").select(
        "nprobe", "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("nprobe", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    grid = (
        exact.select("query_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(p,) for p in _PROBE_LEVELS], "nprobe int"
                )
            )
        )
    )
    return grid.join(hits, ["nprobe", "query_id"], "left").select(
        "nprobe",
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double") / float(_RECALL_K)
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Trained language ID, end-to-end in one declarative DAG.
# ---------------------------------------------------------------------------

_LID_TOPK = 8
_LID_MIN_N = 5


@query(
    "text_langid_trained",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(str_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    by_lang_tok AS (
      SELECT lang, tok, COUNT(*) AS n_lt FROM toks GROUP BY lang, tok
    ),
    by_tok AS (SELECT tok, COUNT(*) AS n_t FROM toks GROUP BY tok),
    by_lang AS (SELECT lang, COUNT(*) AS n_l FROM toks GROUP BY lang),
    total AS (SELECT COUNT(*) AS n FROM toks),
    lifts AS (
      SELECT lt.lang, lt.tok,
             (CAST(lt.n_lt AS DOUBLE) / CAST(l.n_l AS DOUBLE))
               / (CAST(t.n_t AS DOUBLE) / CAST(tt.n AS DOUBLE)) AS lift
      FROM by_lang_tok lt
      JOIN by_tok t USING (tok)
      JOIN by_lang l USING (lang)
      CROSS JOIN total tt
      WHERE lt.n_lt >= {_LID_MIN_N}
    ),
    profile AS (
      SELECT lang, tok FROM (
        SELECT lang, tok,
               row_number() OVER (
                 PARTITION BY lang ORDER BY lift DESC, tok
               ) AS rn
        FROM lifts
      ) WHERE rn <= {_LID_TOPK}
    ),
    hits AS (
      SELECT tk.doc_id, p.lang AS cand_lang, COUNT(*) AS n_hits
      FROM toks tk JOIN profile p ON p.tok = tk.tok
      GROUP BY tk.doc_id, p.lang
    ),
    best AS (
      SELECT doc_id, cand_lang, n_hits FROM (
        SELECT doc_id, cand_lang, n_hits,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY n_hits DESC, cand_lang
               ) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang AS labeled_lang,
           COALESCE(b.cand_lang, 'unknown') AS predicted_lang,
           CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS n_hits
    FROM documents d
    LEFT JOIN best b USING (doc_id)
    """,
)
def text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID, training AND inference in one declarative
    DAG (no driver-side collect anywhere): learn per-language token
    profiles by exact-count lift P(token|lang)/P(token) (top-8 per
    language, min count 5), then classify every doc by profile-token
    hits via a token-to-profile equi-join with (hits desc, lang)
    argmax. The oracle replicates training and inference entirely in
    SQL, so the gate proves the LEARNING math, not just the apply step.

    Scale: token counts are map-side-combinable aggregates; the
    learned profile is #langs x 8 rows (broadcast-joined back); the
    only corpus-sized shuffles are the count aggregations. Lift
    arithmetic is one fixed-order double expression over exact integer
    counts — cross-engine bit-exact, so the top-k profile selection
    (ordered by lift, token) is identical in both engines.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    by_lang_tok = toks.groupBy("lang", "tok").agg(F.count("*").alias("n_lt"))
    by_tok = toks.groupBy("tok").agg(F.count("*").alias("n_t"))
    by_lang = toks.groupBy("lang").agg(F.count("*").alias("n_l"))
    total = toks.agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    lifts = (
        by_lang_tok.filter(F.col("n_lt") >= _LID_MIN_N)
        .join(by_tok, "tok")
        .join(F.broadcast(by_lang), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "tok",
            (
                (F.col("n_lt").cast("double") / F.col("n_l").cast("double"))
                / (F.col("n_t").cast("double") / F.col("n").cast("double"))
            ).alias("lift"),
        )
    )
    w_prof = Window.partitionBy("lang").orderBy(F.desc("lift"), "tok")
    profile = (
        lifts.withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= _LID_TOPK)
        .select(F.col("lang").alias("cand_lang"), "tok")
    )
    hits = (
        toks.join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), "cand_lang"
    )
    best = (
        hits.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cand_lang", "n_hits")
    )
    return docs.select("doc_id", F.col("lang").alias("labeled_lang")).join(
        best, "doc_id", "left"
    ).select(
        "doc_id",
        "labeled_lang",
        F.coalesce("cand_lang", F.lit("unknown")).alias("predicted_lang"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
    )


# ---------------------------------------------------------------------------
# IVF over a TRAINED coarse quantizer (one engine-exact Lloyd update).
# ---------------------------------------------------------------------------

_TIVF_SUB = 8   # coarse quantizer operates on the first 8 components
_TIVF_K = 8
_TIVF_TOPK = 5
_TIVF_Q = 1_000_000


def _tivf_oracle() -> str:
    from ..operators.clustering import seed_centroids, sql_lloyd_assign_parts
    from ..operators.similarity import sql_dot

    seeds = seed_centroids(dim=_TIVF_SUB, k=_TIVF_K)
    dists, assign = sql_lloyd_assign_parts(seeds, vec_sql="sub")
    sum_cols = ", ".join(
        f"CAST(SUM(CAST(floor(sub[{d}] * {_TIVF_Q} + 0.5) AS BIGINT))"
        f" AS BIGINT) AS s{d}"
        for d in range(1, _TIVF_SUB + 1)
    )
    cent_cols = ", ".join(
        f"CAST(s{d} AS DOUBLE) / {_TIVF_Q} / n AS c{d}"
        for d in range(1, _TIVF_SUB + 1)
    )
    fold2 = " + ".join(
        f"((v.sub[{d}] - t.c{d}) * (v.sub[{d}] - t.c{d}))"
        for d in range(1, _TIVF_SUB + 1)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             embedding[1:{_TIVF_SUB}] AS sub,
             sqrt({sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings
    ),
    assigned0 AS (
      SELECT vec_id, sub, {dists}, {assign} AS cluster_id FROM base
    ),
    trained AS (
      SELECT cluster_id, COUNT(*) AS n, {sum_cols}
      FROM assigned0 GROUP BY cluster_id
    ),
    cents AS (SELECT cluster_id, n, {cent_cols} FROM trained),
    re AS (
      SELECT vec_id, cluster_id AS centroid_id FROM (
        SELECT v.vec_id, t.cluster_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {fold2}, t.cluster_id
               ) AS rn
        FROM base v CROSS JOIN cents t
      ) WHERE rn = 1
    ),
    ready AS (
      SELECT b.vec_id, b.embedding, b.nrm, r.centroid_id
      FROM base b JOIN re r USING (vec_id)
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.centroid_id,
             {sql_dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
               AS cosine_sim
      FROM ready q
      JOIN ready c ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    ){_sql_top_by_cosine("query_id, centroid_id, neighbor_id, rank, cosine_sim", _TIVF_TOPK)}"""


@query("ann_ivf_trained", oracle=_tivf_oracle())
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See :func:`ivf_trained_topk` — the contract form probes every
    100th vector, so its probe set GROWS with the corpus (designed-in
    pair growth at 10x, like ann_sq8_topk's note in scale_bench.py);
    the deployment-scaling measurement is the fixed-probe
    ``ann_ivf_trained_full`` in scripts/scale_bench.py::_ann_frames."""
    return ivf_trained_topk(spark, sf_dir, F.col("vec_id") % 100 == 0)


def ivf_trained_topk(spark, sf_dir, query_pred) -> DataFrame:
    """IVF search whose cell layout comes from TRAINING, end-to-end in
    one declarative, oracle-replicated DAG: assign every vector's
    8-dim leading subspace to the seeded centroids, perform ONE exact
    Lloyd update (per-cluster member counts + integer-quantized
    component sums -> updated centroid values as one fixed-order
    double expression — the same engine-exactness discipline as
    ``kmeans_lloyd_step``), re-assign the corpus to the TRAINED
    centroids, then run the standard bucket equi-join + exact-cosine
    top-5. The oracle restates training and search entirely in SQL, so
    the gate proves the learned cell layout, not just the search step.
    A subspace coarse quantizer is the production IVF shape (the
    full-dim residual stays in the fine distance).

    Scale: one scan for assignment, one k-row aggregate for the
    update (map-side combinable), broadcast of the k trained
    centroids, then the proven IVF bucket-join path — training adds
    ONE shuffle over the seeded-centroid variant.
    """
    from ..operators.clustering import lloyd_assign, seed_centroids
    from ..operators.similarity import norm

    seeds = seed_centroids(dim=_TIVF_SUB, k=_TIVF_K)
    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _TIVF_SUB).alias("sub"),
        norm(F.col("embedding")).alias("nrm"),
    )
    assigned0 = base.withColumn(
        "cluster_id", lloyd_assign(F.col("sub"), seeds)
    )
    sums = assigned0.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.floor(
                    F.element_at("sub", d).cast("double") * _TIVF_Q
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias(f"s{d}")
            for d in range(1, _TIVF_SUB + 1)
        ],
    )
    cents = sums.select(
        "cluster_id",
        *[
            (F.col(f"s{d}").cast("double") / _TIVF_Q / F.col("n")).alias(
                f"c{d}"
            )
            for d in range(1, _TIVF_SUB + 1)
        ],
    )
    # Re-assignment is SCAN-FUSED against the trained centroids: the k
    # trained rows are a bounded driver-side collect (k=8 — the same
    # bounded-collect class as the persisted-index probe ids), folded
    # into the lloyd_assign argmin expression. Round 12: the previous
    # crossJoin+row_number formulation shuffled N x k rows carrying
    # the full embedding through a per-vector window sort (an 8M-row
    # sort at sf10, the query's dominant and highest-variance stage);
    # the literal fold is zero-shuffle and IEEE-identical — _sq_dist
    # accumulates the same left-to-right component order (0.0 + t1
    # == t1 exactly), and its strict-less argmin keeps the earliest
    # index on ties == the window's (d2, cluster_id) ascending pick.
    # Collected doubles round-trip exactly through F.lit (binary64).
    trained_rows = sorted(cents.collect(), key=lambda r: r.cluster_id)
    trained = [
        [r[f"c{d}"] for d in range(1, _TIVF_SUB + 1)] for r in trained_rows
    ]
    idx2id = F.array(*[F.lit(int(r.cluster_id)) for r in trained_rows])
    re_assigned = base.select(
        "vec_id",
        "embedding",
        "nrm",
        F.element_at(
            idx2id, lloyd_assign(F.col("sub"), trained) + 1
        ).alias("centroid_id"),
    )
    # The probe side is bounded by construction (a search API's query
    # batch) — pin the broadcast: Catalyst's static filter estimate on
    # re_assigned is corpus-sized, so at sf10 the scoring join
    # otherwise flips to SortMergeJoin and shuffles the CORPUS
    # (round-12 plan diff: BroadcastHashJoin -> SMJ + 2 Exchanges).
    scored = ivf_bucket_scores(F.broadcast(re_assigned.filter(query_pred)), re_assigned)
    return top_by_cosine(scored, _TIVF_TOPK).select(
        "query_id", "centroid_id", "neighbor_id", "rank", "cosine_sim"
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of lexical + dense lists
# (round 6). RRF (Cormack/Clarke/Buettcher 2009) is the standard way
# production search stacks combine BM25 with embedding retrieval.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 30   # depth of each input list
_RRF_TOPK = 20
# One shared, fully parenthesised expression string evaluated verbatim
# by BOTH engines: two exact divisions + one fixed-order add, so the
# fused double is cross-engine bit-exact.
_RRF_EXPR = (
    f"(COALESCE(1.0 / ({_RRF_K}.0 + CAST(lex_rank AS DOUBLE)), 0.0)"
    f" + COALESCE(1.0 / ({_RRF_K}.0 + CAST(dense_rank AS DOUBLE)), 0.0))"
)


@query(
    "search_hybrid_rrf",
    oracle=f"""{_SQL_BM25_STATS},
    lex_top AS (
      SELECT doc_id, {_BM25_SCORE_SQL} AS bm25
      FROM tf CROSS JOIN stats
      ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LIST}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM lex_top
    ),
    normed AS (
      SELECT vec_id, embedding,
             sqrt({sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings
    ),
    qv AS (SELECT embedding AS qe, nrm AS qn FROM normed WHERE vec_id = 0),
    dense_top AS (
      SELECT c.vec_id AS doc_id,
             {sql_dot("qv.qe", "c.embedding")} / (qv.qn * c.nrm) AS sim
      FROM normed c CROSS JOIN qv
      WHERE c.vec_id != 0
      ORDER BY sim DESC, doc_id LIMIT {_RRF_LIST}
    ),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY sim DESC, doc_id) AS dense_rank
      FROM dense_top
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             {_RRF_EXPR} AS rrf_score
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid first-stage retrieval: fuse the BM25 lexical top-30 with
    a dense cosine top-30 (query = embedding 0) by reciprocal rank
    fusion, score(d) = sum over lists of 1/(60 + rank_list(d)) — the
    Cormack et al. 2009 formulation production search engines use to
    combine keyword and embedding retrieval without score calibration.

    Scale shape: each input list is produced by its own scale-correct
    top-k (BM25: scan-fused tf folds + 1-row broadcast stats +
    TakeOrderedAndProject; dense: broadcast query + per-partition heap
    top-k). The rank windows and the full-outer fusion join then run
    over two k-row lists — bounded, driver-light, independent of
    corpus size. RRF doubles are cross-engine bit-exact: integer ranks
    through one shared parenthesised expression string.
    """
    from pyspark.sql import Window
    from ..operators.similarity import dot, norm

    words = F.split(F.lower(F.col("text")), " ")

    def _tf(term: str):
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    tf = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    lex_top = (
        tf.crossJoin(F.broadcast(stats))
        .withColumn("bm25", F.expr(_BM25_SCORE_SQL))
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_LIST)
    )
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    e = table(spark, sf_dir, "embeddings")
    normed = e.withColumn("nrm", norm(F.col("embedding")))
    qv = normed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    dense_top = (
        normed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))).alias("sim"),
        )
        .orderBy(F.desc("sim"), "doc_id")
        .limit(_RRF_LIST)
    )
    w_dense = Window.orderBy(F.desc("sim"), "doc_id")
    dense = dense_top.select(
        "doc_id", F.row_number().over(w_dense).alias("dense_rank")
    )

    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .withColumn("rrf_score", F.expr(_RRF_EXPR))
        .select(
            "doc_id",
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("dense_rank").cast("bigint").alias("dense_rank"),
            "rrf_score",
        )
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(_RRF_TOPK)


# ---------------------------------------------------------------------------
# ANN index lifecycle: persisted IVF assignments + incremental refresh.
# ---------------------------------------------------------------------------

_IDX_NLIST = 8  # coarse lists (centroids vec_id < 8, as in ann_ivf_bucketed)
_IDX_TOPK = 3


@query(
    "ann_index_persist",
    oracle=f"""{_sql_ivf_assigned(_IDX_NLIST)},
    scored AS (
      SELECT q.vec_id AS query_id, q.centroid_id, c.vec_id AS neighbor_id,
             {sql_dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine_sim
      FROM assigned q
      JOIN assigned c ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id % 50 = 0
    ){_sql_top_by_cosine("query_id, centroid_id, neighbor_id, rank, cosine_sim", _IDX_TOPK)}""",
)
def ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index LIFECYCLE: the index is a persisted TABLE, not a
    per-query computation — the shape a 100 TB vector store actually
    runs. Base corpus assignments (vec_id % 10 != 9) are written to a
    VersionedTable with per-file centroid_id stats; the remaining
    vectors arrive as an incremental batch whose assignment cost is
    O(batch) and land via transactional MERGE (never re-assigning the
    corpus); compact(cluster_by=centroid_id) restores list locality
    after the merge (the OPTIMIZE ZORDER analog); probe queries then
    read ONLY their lists via manifest min/max pruning — file opens
    scale with nprobe, not index size.

    The DuckDB oracle restates the pure search algebra over the full
    corpus: create+MERGE over disjoint key sets must equal one-shot
    assignment, and compaction must be answer-invariant — the
    lifecycle legs are proven by producing the identical top-k.

    The probe read is ONE pruned scan (VersionedTable.read_pruned_in:
    ``centroid_id IN (probe lists)`` with manifest min/max skipping) —
    the plan holds a single parquet scan regardless of how many lists
    are probed, so the path survives nlist in the thousands (VERDICT
    r10 ask #6; the round-10 form unioned one read_pruned per list on
    the driver). The distinct-probe-list collect is <= nlist rows
    (control plane), and an empty probe set short-circuits inside
    read_pruned_in to a schema-preserving empty scan (ADVICE r10).
    """
    from ..operators.similarity import ivf_assign
    from ..sources.versioned import VersionedTable
    from .lifecycle_queries import _scratch

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < _IDX_NLIST).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )

    def assign(df: DataFrame) -> DataFrame:
        return ivf_assign(df, cents).select("vec_id", "centroid_id", "embedding", "nrm")

    vt = VersionedTable(
        _scratch("ann_index_persist", sf_dir) / "ivf_index",
        stat_columns=("centroid_id",),
    )
    vt.create(
        assign(e.filter(F.col("vec_id") % 10 != 9)).repartition(
            4, "centroid_id"
        )
    )
    vt.merge(
        spark,
        assign(e.filter(F.col("vec_id") % 10 == 9)),
        keys=["vec_id"],
    )
    vt.compact(spark, target_files=4, cluster_by=["centroid_id"])

    idx = vt.read(spark)
    probes = idx.filter(F.col("vec_id") % 50 == 0)
    probe_lists = sorted(
        r.centroid_id
        for r in probes.select("centroid_id").distinct().collect()
    )
    cand, _info = vt.read_pruned_in(spark, "centroid_id", probe_lists)
    return top_by_cosine(ivf_bucket_scores(probes, cand), _IDX_TOPK).select(
        "query_id", "centroid_id", "neighbor_id", "rank", "cosine_sim"
    )
