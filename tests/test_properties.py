"""Property-based invariants for the merge/dedupe/SCD operators.

Hypothesis generates small adversarial datasets (duplicate keys, ties,
empty sides); each property is an algebraic law the operator must obey
regardless of data. Example counts are small because each example costs
a Spark job — the laws, not the volume, carry the value.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from glamira_batch_processing_spark.operators.incremental import merge_upsert
from glamira_batch_processing_spark.operators.windows import (
    dedupe_latest,
    scd2_from_history,
)

SPARK = None


@pytest.fixture(scope="module", autouse=True)
def _bind_spark(spark):
    global SPARK
    SPARK = spark
    yield


rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=9),   # version/ts
        st.sampled_from(["a", "b", "c"]),        # value
    ),
    min_size=0,
    max_size=12,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(data):
    return SPARK.createDataFrame(data, "k long, ver long, v string") if data else (
        SPARK.createDataFrame([], "k long, ver long, v string")
    )


@given(tgt=rows, src=rows)
@_SETTINGS
def test_merge_upsert_laws(tgt, src):
    """(1) result keys = union of input keys; (2) every key present in
    src resolves to a src row; (3) merge is idempotent."""
    t, s = _df(tgt), _df(src)
    order = [F.desc("ver"), F.desc("v")]
    merged = merge_upsert(t, s, ["k"], order_by=order)
    out = merged.collect()
    keys = {r.k for r in out}
    assert keys == {r[0] for r in tgt} | {r[0] for r in src}
    assert len(out) == len(keys)  # unique per key
    src_keys = {r[0] for r in src}
    src_rows = {(r[0], r[1], r[2]) for r in src}
    for r in out:
        if r.k in src_keys:
            assert (r.k, r.ver, r.v) in src_rows
    again = merge_upsert(merged, s, ["k"], order_by=order).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@given(data=rows)
@_SETTINGS
def test_dedupe_latest_laws(data):
    """One row per key; the kept row is the max under the order."""
    df = _df(data)
    out = dedupe_latest(df, ["k"], [F.desc("ver"), F.desc("v")]).collect()
    assert len(out) == len({r[0] for r in data})
    best = {}
    for k, ver, v in data:
        if k not in best or (ver, v) > best[k]:
            best[k] = (ver, v)
    for r in out:
        assert (r.ver, r.v) == best[r.k]


@given(data=rows)
@_SETTINGS
def test_scd2_laws(data):
    """Validity windows chain per key: ordered by ts, each valid_to
    equals the next valid_from; exactly one current row per key."""
    # make (k, ver) unique so the chain order is total
    uniq = {(k, ver): v for k, ver, v in data}
    data = [(k, ver, v) for (k, ver), v in uniq.items()]
    df = _df(data)
    out = scd2_from_history(df, "k", F.col("ver"), F.col("v")).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.ver)
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from == b.ver


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), max_size=10),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.sampled_from(["x", "y"])),
        max_size=10,
    ),
)
@_SETTINGS
def test_asof_join_law(left, right):
    """For every left row, the joined value is the right row with the
    greatest ts <= left ts for that key (None if no such row)."""
    from glamira_batch_processing_spark.operators.asof import asof_join

    # right must be unique per (key, ts): keep the max value as tiebreak
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = max(v, rmap.get((k, ts), ""))
    right_rows = [(k, ts, v) for (k, ts), v in rmap.items()]
    ldf = SPARK.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)], "rid long, k long, lts long"
    ) if left else SPARK.createDataFrame([], "rid long, k long, lts long")
    rdf = SPARK.createDataFrame(
        right_rows, "k long, rts long, v string"
    ) if right_rows else SPARK.createDataFrame([], "k long, rts long, v string")

    out = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        value_cols=["v"], left_tiebreak="rid",
    )
    got = {r.rid: r.v for r in out.collect()}
    assert set(got) == set(range(len(left)))
    for i, (k, ts) in enumerate(left):
        cands = [(rts, v) for (kk, rts, v) in right_rows if kk == k and rts <= ts]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, ts, got[i], expect)


def test_asof_join_duplicate_left_rows_preserve_multiplicity():
    """Round-2 verdict finding #2: left rows agreeing on (key, ts,
    tiebreak) — even bit-identical rows — must each appear exactly once
    in the output with the correct as-of value, not fan out."""
    from glamira_batch_processing_spark.operators.asof import asof_join

    ldf = SPARK.createDataFrame(
        [(1, 10, "a"), (1, 10, "a"), (1, 5, "b"), (2, 10, "c"), (None, 10, "d")],
        "k long, lts long, payload string",
    )
    rdf = SPARK.createDataFrame([(1, 7, "seven"), (1, 9, "nine")], "k long, rts long, v string")
    out = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        value_cols=["v"], left_tiebreak="payload",
    )
    rows = sorted(
        ((r.k, r.lts, r.payload, r.v) for r in out.collect()),
        key=lambda t: (t[0] if t[0] is not None else -1, t[1], t[2]),
    )
    assert rows == [
        (None, 10, "d", None),  # null key survives, no match
        (1, 5, "b", None),      # before any right row
        (1, 10, "a", "nine"),   # duplicate row 1 of 2 — no fan-out
        (1, 10, "a", "nine"),   # duplicate row 2 of 2
        (2, 10, "c", None),     # key with no right rows
    ]


# ---------------------------------------------------------------------------
# Codec round-trip laws (pure driver-side — no Spark job per example).
# ---------------------------------------------------------------------------
@given(
    fmt=st.sampled_from(["png", "gif", "bmp"]),
    w=st.integers(min_value=1, max_value=200),
    h=st.integers(min_value=1, max_value=200),
)
@settings(max_examples=60, deadline=None)
def test_image_codec_roundtrip_law(fmt, w, h):
    """decode(render(fmt, w, h)) == (w, h, fmt) for every dimension."""
    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_image_real,
        image_bytes,
    )

    assert _decode_image_real(image_bytes(fmt, w, h)) == (w, h, fmt)


@given(
    n_frames=st.integers(min_value=0, max_value=3000),
    rate=st.sampled_from([8000, 16000, 44100]),
    n_channels=st.integers(min_value=1, max_value=2),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_law(n_frames, rate, n_channels, seed):
    """WAV render -> stdlib wave decode recovers every header field, and
    the container size is exactly 44 + 2*frames*channels bytes."""
    import io
    import wave

    from glamira_batch_processing_spark.operators.multimodal import wav_bytes

    b = wav_bytes(n_frames, sample_rate=rate, n_channels=n_channels, seed=seed)
    assert len(b) == 44 + 2 * n_frames * n_channels
    with wave.open(io.BytesIO(b)) as f:
        assert (f.getnchannels(), f.getframerate(), f.getnframes()) == (
            n_channels,
            rate,
            n_frames,
        )


vec_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # vec_id (dups possible -> distinct below)
        st.lists(
            st.integers(min_value=-3, max_value=3).map(float),
            min_size=8,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=10,
).map(lambda xs: list({i: v for i, v in xs}.items()))


@given(data=vec_rows)
@_SETTINGS
def test_semdedup_tau_monotonicity_and_survivor_law(data):
    """(1) Raising tau can only shrink the pruned set; (2) within every
    cluster the minimum surviving... in fact the min-id member is NEVER
    pruned (there is no lower id to prune it); (3) output ids = input
    ids exactly once."""
    from glamira_batch_processing_spark.operators.clustering import seed_centroids
    from glamira_batch_processing_spark.operators.similarity import semdedup_prune

    # zero vectors break cosine (0/0); nudge them off the origin
    data = [
        (i, v if any(x != 0.0 for x in v) else [1.0] + v[1:])
        for i, v in data
    ]
    vecs = SPARK.createDataFrame(data, "vec_id long, embedding array<double>")
    cents = seed_centroids(dim=8, k=3)
    lo = semdedup_prune(vecs, cents, tau=0.4).collect()
    hi = semdedup_prune(vecs, cents, tau=0.9).collect()
    pruned_lo = {r.vec_id for r in lo if r.is_pruned}
    pruned_hi = {r.vec_id for r in hi if r.is_pruned}
    assert pruned_hi <= pruned_lo
    assert {r.vec_id for r in lo} == {i for i, _ in data}
    assert len(lo) == len(data)
    for rows_ in (lo, hi):
        by_cluster: dict[int, int] = {}
        for r in rows_:
            by_cluster.setdefault(r.cluster_id, r.vec_id)
            by_cluster[r.cluster_id] = min(by_cluster[r.cluster_id], r.vec_id)
        min_ids = set(by_cluster.values())
        assert not any(r.is_pruned for r in rows_ if r.vec_id in min_ids)
