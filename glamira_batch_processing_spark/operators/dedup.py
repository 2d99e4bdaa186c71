"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each variant):
- exact:        one hash-groupBy shuffle on md5(content) — linear.
- ngram+jaccard: exact pairwise similarity; candidate pairs come from a
                shingle-inverted-index self-join, so cost is bounded by
                shingle co-occurrence, not n^2. Still superlinear —
                use for verification of candidates, not discovery.
- minhash+LSH:  the 100 TB path. K minhashes per doc -> banded
                signatures -> bucket-join. Each stage is one shuffle on
                a high-cardinality key; no pairwise work outside a
                bucket. Probability of catching Jaccard-s pairs is
                1-(1-s^r)^b (r rows/band, b bands).
- simhash:      near-dup via Hamming-close bit signatures; here grouped
                at distance 0 (identical signature) with banding as the
                scale path for distance<=k.
- embedding:    cosine over vector columns; brute-force for small
                candidate sets, IVF/LSH bucketing in similarity.py for
                scale.

All deterministic: hashing derives from md5 (reproducible in any
engine), minima are lexicographic, ordering has total tie-breaks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_key(text: Column) -> Column:
    """Exact-dup grouping key."""
    return F.md5(text)


def exact_dedup_stats(df: DataFrame) -> DataFrame:
    """Per content-hash of ``text``: copy count + canonical (minimum)
    ``doc_id``."""
    return (
        df.groupBy(content_key(F.col("text")).alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def _ngram_explode(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, g) rows, one per word n-gram: ``g`` is a struct of the n
    consecutive lower-cased words (fields "0".."n-1")."""
    w = F.split(F.lower(F.col(text_col)), " ")
    sz = F.greatest(F.size(w) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, k + 1, sz) for k in range(n)])
    return df.select(id_col, F.explode(z).alias("g"))


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs — the inverted-index input.

    Codegen-friendly formulation: explode arrays_zip of n shifted
    slices, then a plain concat_ws projection. ~7x faster than a
    higher-order transform lambda (HOFs are interpreted per element).
    Pass distinct=False when the consumer is multiplicity-insensitive
    (e.g. min() in minhash) to skip the dedup shuffle.
    """
    out = _ngram_explode(df, text_col, id_col, n).select(
        id_col,
        F.concat_ws(" ", *[F.col(f"g.{k}") for k in range(n)]).alias("shingle"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Pairs (doc_a < doc_b) with Jaccard(word-3-gram shingles of
    ``text``) >= threshold.

    Candidate generation is an inverted-index self-join on shingle —
    only docs sharing at least one shingle are compared.
    """
    sh = doc_shingles(df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")


# Universal-hash family for the md5 minhash fold: fixed odd
# coefficients (deterministic; regenerate with random.Random(20260814))
# and the Mersenne prime modulus 2^31 - 1. The DuckDB twin
# (``SQL_MINHASH_CTES``) lists the same pairs as a VALUES list.
MINHASH_P = 2147483647
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1571058545, 730493953),
    (1660058741, 1293707557),
    (1122761735, 1579482915),
    (72772567, 776319283),
    (1809802581, 1088400267),
    (1716185263, 1854787491),
    (1376580201, 1232262117),
    (126093127, 1718349005),
    (1255154079, 929465995),
    (1495162255, 1110399377),
    (253380337, 223979957),
    (331484111, 2008330133),
)


def minhash_signatures(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
) -> DataFrame:
    """One row per doc with columns mh0..mh{k-1}:
    minhash_j = min over shingles of (a_j*h1 + b_j*h2) mod (2^31 - 1).

    ONE md5 per shingle (not k): h1/h2 are two disjoint 7-hex-digit
    (28-bit) slices of md5(shingle) parsed to BIGINT — engine-portable
    (DuckDB ``CAST('0x'||substr(md5(x),i,7) AS BIGINT)`` is
    bit-identical) — and the k seed hashes are a universal hashing
    family over them with fixed odd coefficients. The modular wrap
    decorrelates the per-seed shingle orderings (a naive h1 + j*h2
    combination lets one low-hash shingle win EVERY seed, which
    collapses band independence and floods the candidate set with
    low-Jaccard pairs — measured, not hypothetical). Bounds:
    a_j,b_j < 2^31 and h1,h2 < 2^28, so a*h1 + b*h2 < 2^60 — no signed
    64-bit overflow in either engine.

    Wide-aggregation form: ONE shuffle of the raw shingles with k min()
    aggregates (map-side partials); all partials/shuffle rows are
    8-byte longs.
    """
    hashed = shingled.select(
        id_col,
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 7), 16, 10)
        .cast("long")
        .alias("h1"),
        F.conv(F.substring(F.md5(F.col("shingle")), 9, 7), 16, 10)
        .cast("long")
        .alias("h2"),
    )
    aggs = [
        F.min(
            (F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2")) % F.lit(MINHASH_P)
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
    ]
    return hashed.groupBy(id_col).agg(*aggs)



def lsh_candidate_pairs(
    df: DataFrame,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >=1 LSH band,
    over the word-3-gram shingles of each (doc_id, text) row.

    Pipeline: codegen shingle explode (no DISTINCT) -> ONE groupBy(doc)
    shuffle computing all k minhashes as wide min() aggregates -> band
    signatures by direct
    column concat -> stack to (doc, band, sig) -> bucket self-join.
    No global pairwise comparison ever happens; cost is linear +
    per-bucket quadratic. Shingles are NOT deduped first — min() is
    multiset-insensitive, so the distinct shuffle would be pure waste.

    (A fully shuffle-free per-row variant — minhash over a per-row
    shingle array — loses badly in practice: each of the k minhash
    columns re-inlines the whole shingle pipeline after projection
    collapse. The exploded+wide-agg form is ~10x faster.)
    """
    sh = doc_shingles(df, distinct=False)
    return lsh_candidate_pairs_on_shingles(sh, "doc_id", num_hashes, band_rows)


def lsh_candidate_pairs_on_shingles(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """:func:`lsh_candidate_pairs` from an EXISTING (id, shingle) frame
    (non-distinct is fine — min() is multiset-insensitive). Split out
    (round 15) so a pipeline that needs the shingles for another
    consumer too (e.g. benchmark decontamination) can materialize ONE
    shingle pass and feed both legs instead of re-running the corpus
    explode per leg (guide §2.4)."""
    mh = minhash_signatures(shingled, id_col, num_hashes)
    return _bucket_pairs(band_signatures(mh, id_col, num_hashes, band_rows), id_col)


def _bucket_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a (band, band_sig) bucket:
    the LSH bucket self-join."""
    a = sigs.select(F.col(id_col).alias("doc_a"), "band", "band_sig")
    b = sigs.select(F.col(id_col).alias("doc_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _band_stack(
    mh: DataFrame,
    id_col: str,
    num_hashes: int,
    band_rows: int,
    combine: Callable[[list[Column]], Column],
) -> DataFrame:
    """(id, band, band_sig) rows: band b's signature is ``combine`` of
    its ``band_rows`` minhash columns, stacked with one explode."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            combine([F.col(f"mh{b * band_rows + r}") for r in range(band_rows)]).alias(
                "band_sig"
            ),
        )
        for b in range(num_hashes // band_rows)
    ]
    return mh.select(id_col, F.explode(F.array(*bands)).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def band_signatures(
    mh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """(id, band, band_sig) rows from an mh0..mh{k-1} signature table —
    the LSH banding step, shared by one-shot and incremental dedup."""
    return _band_stack(
        mh, id_col, num_hashes, band_rows,
        lambda cols: F.concat_ws("|", *[c.cast("string") for c in cols]),
    )


def incremental_lsh_pairs(
    spark,
    sig_table,
    new_docs: DataFrame,
    txn_id: str | None = None,
):
    """Dedup-at-ingest: returns (version, pairs) where ``pairs`` are
    the candidate pairs INVOLVING the new batch, and the new batch's
    minhash signatures (12 hashes, 4 bands of 3 rows) are merged into
    ``sig_table`` (a VersionedTable keyed on ``doc_id``) as one atomic
    commit.

    The 100 TB ingest shape: the corpus is never re-shingled — each
    batch computes its own signatures (linear in the batch), MERGEs
    them into the persistent signature table, then probes band buckets
    with the BATCH side as the small build input. Cost per batch is
    O(batch + matching buckets), independent of corpus size; the
    signature table is ~(k longs)/doc, orders of magnitude below the
    corpus. ``txn_id`` passes through to the MERGE, so a replayed batch
    (stream retry) neither duplicates signatures nor re-reports pairs
    from a double-merge. Pair semantics match lsh_candidate_pairs on
    the union corpus, restricted to pairs touching the batch: both
    sides band with the same universal-hash minhashes.
    """
    sh = doc_shingles(new_docs, distinct=False)
    new_mh = minhash_signatures(sh)
    if sig_table.latest_version() is None:
        version = sig_table.create(new_mh)
    else:
        version = sig_table.merge(spark, new_mh, keys=["doc_id"], txn_id=txn_id)
    all_mh = sig_table.read(spark, version)
    new_bands = band_signatures(new_mh).select(
        F.col("doc_id").alias("doc_b"), "band", "band_sig"
    )
    all_bands = band_signatures(all_mh).select(
        F.col("doc_id").alias("doc_a"), "band", "band_sig"
    )
    pairs = (
        all_bands.join(F.broadcast(new_bands), ["band", "band_sig"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    return version, pairs


def doc_shingle_words(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, w0..w{n-1}) rows over ``text`` — one row per n-gram,
    words kept as separate columns so consumers can hash the tuple
    directly without ever materializing the concatenated shingle string
    (measured ~2x on the LSH fast path: the concat_ws dominated once
    hashing became cheap)."""
    return _ngram_explode(df, "text", "doc_id", n).select(
        "doc_id", *[F.col(f"g.{k}").alias(f"w{k}") for k in range(n)]
    )


def minhash_signatures_fast(
    shingled_words: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """Production minhash: one row per doc, columns mh0..mh{k-1} as
    minhash_j = min over shingles of xxhash64(j, w0..w{n-1}) — longs.

    The 100 TB path (VERDICT.md r3 ask #2): xxhash64 stays entirely in
    JVM codegen on the raw word columns (no shingle string is ever
    built), vs md5's 32-char hex strings + UTF-8 lexicographic minima.
    Same wide-aggregation shape as minhash_signatures (ONE shuffle, k
    min() map-side partials); only the hash family differs, so banding
    math (1-(1-s^r)^b) is unchanged. A 2-hash Kirsch-Mitzenmacher
    combiner measured SLOWER than k direct xxhash64 calls here (the
    xor/rotate expression tree beats codegen'd xxhash64 only for much
    larger k). Not engine-portable — minhash_signatures is the oracle
    twin."""
    words = [f"w{k}" for k in range(n)]
    aggs = [
        F.min(F.xxhash64(F.lit(j), *words)).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return shingled_words.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs_fast(
    df: DataFrame,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >=1 LSH band —
    xxhash64 production variant of lsh_candidate_pairs.

    Same pipeline shape (shingle explode -> ONE wide-agg shuffle ->
    band stack -> bucket self-join), but every hot value is a long:
    no shingle string is ever concatenated (words feed xxhash64 as a
    tuple), minhashes are xxhash64 longs, and each band signature is
    one xxhash64 fold of its row minhashes, so the self-join key is
    (int, long) instead of (int, 100-char string). Band-signature
    collisions (~2^-64) can only ADD candidates, never lose them —
    safe for candidate generation feeding exact verification or
    component clustering.
    """
    sh = doc_shingle_words(df)
    return lsh_candidate_pairs_fast_on_words(sh, "doc_id", 3, num_hashes, band_rows)


def lsh_candidate_pairs_fast_on_words(
    shingled_words: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """:func:`lsh_candidate_pairs_fast` from an EXISTING word-tuple
    shingle frame (see :func:`doc_shingle_words`) — the shared-shingle
    split, as in :func:`lsh_candidate_pairs_on_shingles`."""
    mh = minhash_signatures_fast(shingled_words, id_col, num_hashes, n)
    sigs = _band_stack(mh, id_col, num_hashes, band_rows, lambda cols: F.xxhash64(*cols))
    return _bucket_pairs(sigs, id_col)


def simhash_bits(df: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc (``doc_id``) SimHash signature string of ``bits`` 0/1
    chars over the tokens of ``text``.

    Bit i is derived from hex digit i of md5(token): (digit & 1). Tokens
    vote +1/-1 per bit with multiplicity; the sign of the sum is the
    signature bit. Identical signatures => near-identical token bags.
    """
    toks = df.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    hexmap = "0123456789abcdef"
    aggs = []
    for i in range(bits):
        digit = F.instr(F.lit(hexmap), F.substring(F.col("h"), i + 1, 1)) - 1
        vote = F.when(digit % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(vote).alias(f"s{i}"))
    sums = toks.groupBy("doc_id").agg(*aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return sums.select("doc_id", sig.alias("simhash"))


# --- DuckDB SQL twins ------------------------------------------------------

def sql_shingles_cte(corpus: str) -> str:
    """CTE body producing (doc_id, word-3-gram shingle) distinct from
    ``corpus``."""
    return f"""
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                 THEN list_transform(range(1, len(w) - 1), i -> w[i+0] || ' ' || w[i+1] || ' ' || w[i+2])
                 ELSE [] END) AS shingle
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS w FROM {corpus})
      )
    """


# The md5 minhash fold and its 4 x 3 banding over a ``shingles`` CTE:
# ``mh`` (doc_id, seed, minhash) and ``sigs`` (doc_id, band, band_sig),
# the twin of minhash_signatures + band_signatures.
SQL_MINHASH_CTES = f"""mh AS (
      SELECT doc_id, seed, MIN((a * h1 + b * h2) % {MINHASH_P}) AS minhash
      FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(shingle), 9, 7)) AS BIGINT) AS h2
        FROM shingles
      ), (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(MINHASH_COEFFS))}) AS coeffs(seed, a, b)
      GROUP BY doc_id, seed
    ),
    sigs AS (
      SELECT doc_id, seed // 3 AS band,
             string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS band_sig
      FROM mh GROUP BY doc_id, seed // 3
    )"""


def sql_lsh_pairs_cte(name: str) -> str:
    """CTE ``name`` (doc_a < doc_b): the pairs sharing a ``sigs`` bucket."""
    return f"""{name} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    )"""


def sql_components_ctes(pairs: str) -> str:
    """CTEs ``edges`` (both directions of each ``pairs`` row) and the
    recursive ``r(node, lab)``: every label reachable from each node,
    whose per-node MIN is the connected-component id (needs ``WITH
    RECURSIVE``)."""
    return f"""edges AS (
      SELECT doc_a AS a, doc_b AS b FROM {pairs}
      UNION
      SELECT doc_b AS a, doc_a AS b FROM {pairs}
    ),
    r(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.node
    )"""
