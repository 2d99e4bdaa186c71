"""Corpus-hygiene operators: BPE encode, duplicated spans, winnowing,
URL canonicalization, Luhn validation.

The four oracle-backed queries are already hash-checked against DuckDB
by ``test_driver_contract.py::test_query_vs_oracle``; these tests pin
the operator-level properties the oracle comparison cannot see
(BPE segmentation exactness, winnowing's coverage guarantee, span
recall, partition invariance of the Arrow path).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from glamira_batch_processing_spark.operators.bpe import (
    bpe_encode_stats,
    encode_text,
    encode_word,
)
from glamira_batch_processing_spark.operators.spans import (
    duplicated_span_stats,
    winnow_fingerprints,
    word_windows,
)

from .conftest import SF_MEDIUM, SF_SMALL


# ---------------------------------------------------------------------------
# BPE
# ---------------------------------------------------------------------------


def test_bpe_hand_computed_segmentations():
    # 'the': t+h -> th (rank 0), th+e -> the (rank 1).
    assert encode_word("the") == ["the"]
    # 'scan': s+c (rank 20) -> sc, then sc+an needs 'an' (rank 3 merges
    # a+n first): a+n -> an (rank 3) happens BEFORE s+c (rank 20).
    # sequence: s,c,a,n -> s,c,an (rank 3) -> sc,an (rank 20)
    # -> scan (rank 21).
    assert encode_word("scan") == ["scan"]
    # 'query': q+u (39) after e+r (4): q,u,e,r,y -> q,u,er -> qu,er
    # -> quer (40) -> query (41).
    assert encode_word("query") == ["query"]
    # A word with no applicable merges stays character-level.
    assert encode_word("zzz") == ["z", "z", "z"]
    # Merges never cross word boundaries.
    assert encode_text("the scan") == ["the", "scan"]


def test_bpe_greedy_rank_order_not_leftmost():
    # 'ing': leftmost pair i+n has rank 2, but in 'ring' the r,i,n,g
    # sequence must merge i+n first (rank 2) then in+g (rank 14),
    # NOT r+e or e+r variants. Result: r + ing.
    assert encode_word("ring") == ["r", "ing"]


def test_bpe_cache_parity():
    cache: dict[str, list[str]] = {}
    words = ["the", "scan", "zzz", "the", "query", "scan"]
    with_cache = [encode_word(w, cache) for w in words]
    without = [encode_word(w) for w in words]
    assert with_cache == without
    assert set(cache) == {"the", "scan", "zzz", "query"}


def test_bpe_query_partition_invariance(spark):
    d = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    one = bpe_encode_stats(d.coalesce(1)).orderBy("doc_id").collect()
    many = bpe_encode_stats(d.repartition(7)).orderBy("doc_id").collect()
    assert one == many
    # Tokens never exceed characters, never fall below best compression.
    for r in one:
        assert 0 < r.n_tokens
        assert r.n_words <= r.n_tokens


def test_bpe_matches_driver_python_reference(spark):
    """The distributed result equals driver-side pure-Python encoding."""
    rows = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
        .collect()
    )
    import hashlib

    expected = {
        r.doc_id: hashlib.md5(" ".join(encode_text(r.text)).encode()).hexdigest()
        for r in rows
    }
    d = spark.createDataFrame(rows)
    got = {r.doc_id: r.tokens_md5 for r in bpe_encode_stats(d).collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# Duplicated spans
# ---------------------------------------------------------------------------


def test_span_recall_planted_duplicate(spark):
    """A >=w-word verbatim span shared by two docs is always caught."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    df = spark.createDataFrame(
        [
            (1, f"unique one {shared} tail a"),
            (2, f"other prefix words here {shared}"),
            (3, "completely different text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_span_stats(df, w=8).collect()}
    assert out[1].n_dup_windows >= 1
    assert out[2].n_dup_windows >= 1
    assert out[3].n_dup_windows == 0
    assert out[3].dup_ratio == 0.0


def test_span_short_doc_zero_windows(spark):
    df = spark.createDataFrame([(1, "too short")], ["doc_id", "text"])
    row = duplicated_span_stats(df, w=8).collect()[0]
    assert row.n_windows == 0
    assert row.dup_ratio is None


def test_span_within_doc_repeat_not_cross_doc(spark):
    """Repetition inside ONE doc is not cross-doc duplication."""
    rep = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{rep} filler {rep}"), (2, "unrelated words entirely different")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_span_stats(df, w=8).collect()}
    assert out[1].n_dup_windows == 0


# ---------------------------------------------------------------------------
# Winnowing
# ---------------------------------------------------------------------------


def test_winnow_coverage_guarantee(spark):
    """Every stretch of t+k-1 words contains >=1 selected k-gram: the
    fingerprint count is >= n_kgrams/t (density bound) and fingerprints
    are a subset of the doc's k-gram hashes."""
    d = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
    )
    k, t = 4, 5
    fp = winnow_fingerprints(d, k=k, t=t).collect()
    for r in fp:
        if r.n_kgrams >= t:
            assert r.n_fingerprints >= 1
            # winnowing selects at most one new fp per window position
            assert r.n_fingerprints <= r.n_kgrams - t + 1
        else:
            assert r.n_fingerprints == 0 and r.fp_digest is None


def test_winnow_identical_docs_share_digest(spark):
    text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    rows = winnow_fingerprints(df).collect()
    assert rows[0].fp_digest == rows[1].fp_digest


def test_winnow_partition_invariance(spark):
    d = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    a = winnow_fingerprints(d.coalesce(1)).orderBy("doc_id").collect()
    b = winnow_fingerprints(d.repartition(9)).orderBy("doc_id").collect()
    assert a == b


# ---------------------------------------------------------------------------
# Boilerplate line stripping
# ---------------------------------------------------------------------------


def test_boilerplate_strips_shared_lines_keeps_content(spark):
    from glamira_batch_processing_spark.operators.spans import (
        strip_boilerplate_lines,
    )

    footer = "all rights reserved"
    rows = [(i, f"unique content {i} <br> {footer}") for i in range(1, 11)]
    rows.append((99, "standalone page no footer"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in strip_boilerplate_lines(df, min_docs=10).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    for i in range(1, 11):
        assert out[i].n_lines == 2 and out[i].n_kept == 1
        assert out[i].cleaned_md5 == md5(f"unique content {i}")
    assert out[99].n_kept == 1
    assert out[99].cleaned_md5 == md5("standalone page no footer")


def test_boilerplate_all_lines_stripped_yields_empty(spark):
    from glamira_batch_processing_spark.operators.spans import (
        strip_boilerplate_lines,
    )

    rows = [(i, "only boilerplate here") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = strip_boilerplate_lines(df, min_docs=5).collect()
    import hashlib

    for r in out:
        assert r.n_kept == 0
        assert r.cleaned_md5 == hashlib.md5(b"").hexdigest()


def test_boilerplate_reassembly_preserves_order(spark):
    from glamira_batch_processing_spark.operators.spans import (
        strip_boilerplate_lines,
    )

    shared = "cookie banner"
    text = f"first part <br> {shared} <br> middle bit <br> last words"
    rows = [(1, text)] + [(i, f"filler {i} <br> {shared}") for i in range(2, 12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in strip_boilerplate_lines(df, min_docs=11).collect()}
    import hashlib

    expect = "first part <br> middle bit <br> last words"
    assert out[1].cleaned_md5 == hashlib.md5(expect.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Plan shape: the hygiene operators stay scan-fused / bounded-shuffle.
# ---------------------------------------------------------------------------


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_word_windows_no_shuffle(spark):
    d = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").select("doc_id", "text")
    assert _n_exchanges(word_windows(d)) == 0


def test_luhn_and_url_queries_no_udf(spark):
    """Luhn + URL canonicalization are pure Column algebra: no
    Python-worker nodes in the physical plan."""
    from glamira_batch_processing_spark.plans import hygiene_queries  # noqa: F401
    from glamira_batch_processing_spark.plans.registry import QUERIES

    for name in ("pii_luhn_validate", "url_canonicalize_dedup"):
        plan = (
            QUERIES[name](spark, SF_MEDIUM)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan, name
        assert "BatchEvalPython" not in plan, name


# ---------------------------------------------------------------------------
# Incremental LSH dedup-at-ingest
# ---------------------------------------------------------------------------


def test_incremental_lsh_matches_full_recompute(spark, tmp_path):
    """Batch-wise ingest dedup reports exactly the full-corpus LSH
    pairs that involve each batch, without re-shingling the corpus."""
    from glamira_batch_processing_spark.operators.dedup import (
        incremental_lsh_pairs,
        lsh_candidate_pairs,
    )
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    base = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    batch1 = base.filter("doc_id % 3 != 0")
    batch2 = base.filter("doc_id % 3 = 0").unionByName(
        # exact dup of a batch1 doc, under a new id -> must pair cross-batch
        batch1.limit(1).selectExpr("doc_id + 1000000 AS doc_id", "text")
    )
    t = VersionedTable(tmp_path / "sigs")
    v1, p1 = incremental_lsh_pairs(spark, t, batch1)
    assert v1 == 0
    v2, p2 = incremental_lsh_pairs(spark, t, batch2)
    assert v2 == 1

    union = batch1.unionByName(batch2)
    full = {tuple(r) for r in lsh_candidate_pairs(union).collect()}
    batch2_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    expected2 = {p for p in full if p[0] in batch2_ids or p[1] in batch2_ids}
    got2 = {tuple(r) for r in p2.collect()}
    assert got2 == expected2
    # the planted exact dup must be among them
    assert any(b >= 1000000 for _, b in got2)

    batch1_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    expected1 = {p for p in full if p[0] in batch1_ids and p[1] in batch1_ids}
    got1 = {tuple(r) for r in p1.collect()}
    assert got1 == expected1


def test_ingest_gate_designed_pairs_cross_batches(spark):
    """ADVICE r12 (medium): the round-12 replay cut chunks on
    doc_id % 4, which BOTH duplicate offsets (+100000, +200000)
    preserve — so a base doc and its duplicates always landed in the
    SAME micro-batch and the gate's cross-batch signature state went
    near-unverified. The fix cuts on doc_id % 3 (100000 % 3 = 1,
    200000 % 3 = 2): this pins that (a) every DESIGNED duplicate pair
    now has its two members arriving in different micro-batches, and
    (b) each pair is emitted at the batch where its later member
    lands — i.e. the persistent signature store, not within-batch
    hashing, produced it."""
    import __spark_entry__ as contract
    from scripts.streaming_scale import scratch_root

    name = "dedup_streaming_ingest_gate"
    qs = contract.queries()
    pairs = {(r.doc_a, r.doc_b) for r in qs[name](spark, SF_SMALL).collect()}
    designed = {
        (a, b) for a, b in pairs if (b - a) in (100000, 200000)
    } | {(a, b) for a, b in pairs if a >= 100000 and (b - a) == 100000}
    assert designed, "corpus should contain designed duplicate pairs"
    # (a) members of every designed pair arrive in different batches
    for a, b in designed:
        assert a % 3 != b % 3, (a, b)
    # (b) emission batch == later member's arrival batch, for ALL pairs
    sink = scratch_root(name, SF_SMALL) / "out"
    emitted = spark.read.parquet(str(sink)).collect()
    assert emitted
    for r in emitted:
        assert r.batch_id == max(r.doc_a % 3, r.doc_b % 3), (
            r.doc_a,
            r.doc_b,
            r.batch_id,
        )
    # cross-batch discoveries dominate: at least every designed pair
    cross = [r for r in emitted if r.doc_a % 3 != r.doc_b % 3]
    assert len(cross) >= len(designed)


def test_incremental_lsh_replay_is_idempotent(spark, tmp_path):
    from glamira_batch_processing_spark.operators.dedup import (
        incremental_lsh_pairs,
    )
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    docs = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    t = VersionedTable(tmp_path / "sigs")
    incremental_lsh_pairs(spark, t, docs.limit(20))
    batch = docs.filter("doc_id >= 20")
    v_a, p_a = incremental_lsh_pairs(spark, t, batch, txn_id="batch-2")
    v_b, p_b = incremental_lsh_pairs(spark, t, batch, txn_id="batch-2")
    assert v_a == v_b  # replayed merge detected, no new version
    assert {tuple(r) for r in p_a.collect()} == {tuple(r) for r in p_b.collect()}


# ---------------------------------------------------------------------------
# BPE training
# ---------------------------------------------------------------------------


def test_bpe_train_hand_computable():
    """On a corpus of 'abab' words: round 1 learns (a,b) (6 vs 3 for
    (b,a)); round 2 learns (ab,ab); round 3 finds no pair >= min_count
    and stops early."""
    from glamira_batch_processing_spark.operators.bpe import bpe_train
    from glamira_batch_processing_spark import get_spark

    spark = get_spark("t")
    df = spark.createDataFrame([("abab abab",), ("abab",)], ["text"])
    merges = bpe_train(df, n_merges=5)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_bpe_train_partition_invariant_and_tie_deterministic(spark):
    from glamira_batch_processing_spark.operators.bpe import bpe_train

    d = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("text")
        .limit(150)
    )
    m1 = bpe_train(d.coalesce(1), n_merges=6)
    m2 = bpe_train(d.repartition(13), n_merges=6)
    assert m1 == m2
    assert len(m1) == 6


def test_bpe_train_then_encode_compresses(spark):
    """Merges learned from the corpus reduce its own token count vs
    character-level encoding."""
    from glamira_batch_processing_spark.operators.bpe import (
        _encode_with,
        bpe_train,
    )

    rows = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("text")
        .limit(100)
        .collect()
    )
    d = spark.createDataFrame(rows)
    merges = bpe_train(d, n_merges=16)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict = {}
    n_chars = n_tokens = 0
    for r in rows:
        for w in r.text.lower().split(" "):
            if w:
                n_chars += len(w)
                n_tokens += len(_encode_with(w, merges, ranks, cache))
    assert n_tokens < 0.8 * n_chars


# ---------------------------------------------------------------------------
# Tokenizer seed-oracle staleness guard (round 9, VERDICT r8 ask #8):
# the committed expected tables must match what the pure-Python twins
# produce for the CURRENT testdata — regenerate with
# scripts/gen_tokenizer_expected.py after any testdata refresh.
# ---------------------------------------------------------------------------


def test_tokenizer_expected_seeds_not_stale():
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "scripts"))
    from gen_tokenizer_expected import corpus_sig, expected_for_corpus

    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
    )
    doc_ids = [int(v) for v in t["doc_id"].to_pylist()]
    texts = t["text"].to_pylist()
    sig = corpus_sig(doc_ids, texts)
    bpe_rows, uni_rows = expected_for_corpus(doc_ids, texts)

    seeds = repo / "glamira_batch_processing_spark/seeds"
    bpe = pq.read_table(seeds / "bpe_expected.parquet").to_pylist()
    uni = pq.read_table(seeds / "unigram_expected.parquet").to_pylist()
    bpe_slice = sorted(
        (r["doc_id"], r["n_words"], r["n_tokens"], r["tokens_md5"])
        for r in bpe
        if r["corpus_sig"] == sig
    )
    uni_slice = sorted(
        (r["doc_id"], r["n_tokens"], r["n_distinct_pieces"], r["seg_digest"])
        for r in uni
        if r["corpus_sig"] == sig
    )
    assert bpe_slice == sorted(r[1:] for r in bpe_rows), (
        "bpe_expected.parquet is stale — rerun scripts/gen_tokenizer_expected.py"
    )
    assert uni_slice == sorted(r[1:] for r in uni_rows), (
        "unigram_expected.parquet is stale — rerun scripts/gen_tokenizer_expected.py"
    )

    # Round 13: the TRAIN seed tables (learned merge table / vocab from
    # the Spark-free twins) under the same staleness guard.
    from gen_tokenizer_expected import train_expected_for_corpus

    bt_rows, ut_rows = train_expected_for_corpus(doc_ids, texts)
    bt = pq.read_table(seeds / "bpe_train_expected.parquet").to_pylist()
    ut = pq.read_table(seeds / "unigram_train_expected.parquet").to_pylist()
    bt_slice = sorted(
        (r["rank"], r["a"], r["b"]) for r in bt if r["corpus_sig"] == sig
    )
    ut_slice = sorted(
        (r["rank"], r["piece"], r["count"])
        for r in ut
        if r["corpus_sig"] == sig
    )
    assert bt_slice == sorted(r[1:] for r in bt_rows), (
        "bpe_train_expected.parquet is stale — rerun "
        "scripts/gen_tokenizer_expected.py"
    )
    assert ut_slice == sorted(r[1:] for r in ut_rows), (
        "unigram_train_expected.parquet is stale — rerun "
        "scripts/gen_tokenizer_expected.py"
    )
