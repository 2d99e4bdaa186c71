"""Unit tests for operator modules not fully covered by contract queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.operators.incremental import merge_upsert
from glamira_batch_processing_spark.operators.multimodal import (
    decode_images,
    sample_frames,
    with_text_payload,
)
from glamira_batch_processing_spark.operators.similarity import cosine_topk
from glamira_batch_processing_spark.operators.skew import salted_agg, with_salt
from glamira_batch_processing_spark.operators.windows import scd2_from_history


def test_merge_upsert_with_source_dedupe(spark):
    tgt = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, ver long"
    )
    src = spark.createDataFrame(
        [(2, "b2", 2), (2, "b3", 3), (3, "c", 1)], "k long, v string, ver long"
    )
    out = merge_upsert(tgt, src, ["k"], order_by=[F.desc("ver")])
    got = {r.k: (r.v, r.ver) for r in out.collect()}
    assert got == {1: ("a", 1), 2: ("b3", 3), 3: ("c", 1)}


def test_salted_agg_matches_plain_agg(spark):
    df = spark.range(10000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    plain = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.s)
        for r in salted_agg(
            df,
            ["k"],
            [F.count("*").alias("n"), F.sum(F.col("v").cast("decimal(18,2)")).alias("s_d")],
            [F.sum("n").alias("n"), F.sum("s_d").cast("double").alias("s")],
            buckets=8,
        ).collect()
    }
    assert plain == salted


def test_with_salt_deterministic(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("k"))
    a = [r["__salt"] for r in with_salt(df).orderBy("id").collect()]
    b = [r["__salt"] for r in with_salt(df).orderBy("id").collect()]
    assert a == b
    assert len(set(a)) > 1


def test_scd2_validity_windows(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 5, "x")],
        "k long, ts long, v string",
    )
    out = scd2_from_history(df, "k", F.col("ts"), F.col("v")).collect()
    rows = {(r.k, r.ts): (r.valid_from, r.valid_to, r.is_current) for r in out}
    assert rows[(1, 10)] == (10, 20, False)
    assert rows[(1, 20)] == (20, 30, False)
    assert rows[(1, 30)] == (30, None, True)
    assert rows[(2, 5)] == (5, None, True)


def test_cosine_topk_operator(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = cosine_topk(q, vecs, k=2).collect()
    ranked = [(r.rank, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1), (2, 2)]  # closest then orthogonal; -1 excluded by k


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world " * 20), (2, "tiny")], "doc_id long, text string"
    )
    with_bytes = with_text_payload(docs)
    meta = decode_images(with_bytes)
    got = {r.doc_id: r for r in meta.collect()}
    assert got[1].n_bytes == len("hello world " * 20)
    assert got[1].format == "fake"
    assert 64 <= got[1].width < 128 and 64 <= got[1].height < 128

    frames = sample_frames(with_bytes, frame_size=32, stride=96)
    f1 = frames.filter(F.col("doc_id") == 1).collect()
    assert len(f1) == (240 + 95) // 96  # ceil(len/stride)
    assert all(len(bytes(r.frame_bytes)) <= 32 for r in f1)
    f2 = frames.filter(F.col("doc_id") == 2).collect()
    assert len(f2) == 1 and bytes(f2[0].frame_bytes) == b"tiny"


def test_image_header_codec_real():
    """Pure-stdlib container codecs: render -> decode is the identity
    on (width, height, format); malformed inputs raise."""
    import pytest as _pytest

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_image_real,
        image_bytes,
    )

    for fmt in ("png", "gif", "bmp"):
        assert _decode_image_real(image_bytes(fmt, 123, 45)) == (123, 45, fmt)
    # negative BMP height (top-down pixel order) normalizes to abs()
    import struct as _struct

    bmp = bytearray(image_bytes("bmp", 10, 7))
    bmp[22:26] = _struct.pack("<i", -7)
    assert _decode_image_real(bytes(bmp)) == (10, 7, "bmp")
    # minimal JPEG: SOI + APP0 skip + SOF0
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + _struct.pack(">H", 4) + b"\x00\x00"  # APP0, len 4
        + b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08" + _struct.pack(">HH", 33, 44)
        + b"\x03\x00\x00\x00"
    )
    assert _decode_image_real(jpeg) == (44, 33, "jpeg")
    for bad in (b"", b"\x89PNG\r\n\x1a\n\x00\x00", b"GIF89a\x01", b"not an image"):
        with _pytest.raises(ValueError):
            _decode_image_real(bad)


def test_decode_images_strict_and_audio(spark):
    """strict decode surfaces unknown payloads as format='error' with
    NULL dims; decode_audio REAL-decodes WAV and error-flags the rest."""
    from glamira_batch_processing_spark.operators.multimodal import (
        decode_audio,
        image_bytes,
        wav_bytes,
    )

    rows = [
        (1, bytearray(image_bytes("png", 20, 30))),
        (2, bytearray(b"not a container")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_images(df, strict=True).collect()}
    assert (got[1].width, got[1].height, got[1].format) == (20, 30, "png")
    assert got[2].format == "error" and got[2].width is None

    arows = [
        (1, bytearray(wav_bytes(250, sample_rate=16000, n_channels=2, seed=9))),
        (2, bytearray(b"oops")),
    ]
    adf = spark.createDataFrame(arows, "doc_id long, payload binary")
    agot = {r.doc_id: r for r in decode_audio(adf).collect()}
    a1 = agot[1]
    assert (a1.n_channels, a1.sample_rate, a1.n_frames, a1.format) == (2, 16000, 250, "wav")
    assert a1.duration_ms == 250 * 1000 // 16000
    assert a1.n_bytes == 44 + 250 * 2 * 2
    assert agot[2].format == "error" and agot[2].sample_rate is None


def _variant_wav(fmt_tag: int, nch: int = 2, rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE with a non-PCM fmt tag and an empty data chunk."""
    import struct as _s

    fmt = _s.pack("<HHIIHH", fmt_tag, nch, rate, rate * nch, nch, 8)
    chunks = b"fmt " + _s.pack("<I", len(fmt)) + fmt + b"data" + _s.pack("<I", 0)
    return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_audio_quarantines_non_pcm_wav_variants(spark):
    """Structurally valid WAVs whose coding stdlib wave refuses (a-law,
    mu-law, float, ADPCM, MP3-in-WAV) must surface as quarantine rows:
    channels + sample rate from the fmt chunk, frame fields NULL, and a
    specific wav-<variant> format label — the audio twin of the JPEG
    variant routing. Junk stays format='error'."""
    from glamira_batch_processing_spark.operators.multimodal import decode_audio

    rows = [
        (1, bytearray(_variant_wav(6, nch=1, rate=8000))),    # a-law
        (2, bytearray(_variant_wav(7, nch=2, rate=16000))),   # mu-law
        (3, bytearray(_variant_wav(3, nch=2, rate=44100))),   # float32
        (4, bytearray(_variant_wav(0x55, nch=2, rate=22050))),  # mp3-in-wav
        (5, bytearray(b"RIFFjunk")),                          # truncated riff
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_audio(df).collect()}
    expect = {1: ("wav-alaw", 1, 8000), 2: ("wav-mulaw", 2, 16000),
              3: ("wav-float", 2, 44100), 4: ("wav-mp3", 2, 22050)}
    for doc_id, (label, nch, rate) in expect.items():
        r = got[doc_id]
        assert r.format == label
        assert (r.n_channels, r.sample_rate) == (nch, rate)
        assert r.n_frames is None and r.duration_ms is None
    assert got[5].format == "error" and got[5].sample_rate is None


def test_wav_fmt_probe_truncation_never_crashes():
    """Byte-truncations of every variant fixture: the probe returns a
    labelled tuple or None — never raises."""
    from glamira_batch_processing_spark.operators.multimodal import _wav_fmt_probe

    for tag in (2, 3, 6, 7, 0x11, 0x55, 0xFFFE, 0x9999):
        data = _variant_wav(tag)
        full = _wav_fmt_probe(data)
        assert full is not None and full[2].startswith("wav-")
        for cut in range(len(data)):
            out = _wav_fmt_probe(data[:cut])
            assert out is None or out[2].startswith("wav-")


def test_cosine_topk_np_matches_fold(spark):
    """numpy matmul path agrees with the exact-fold path: same neighbor
    sets and ranks; similarities equal to ~1e-12 relative."""
    from glamira_batch_processing_spark.operators.similarity import (
        cosine_topk_np,
        norm as vnorm,
        dot as vdot,
    )
    from pyspark.sql import Window

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    normed = e.withColumn("nrm", vnorm(F.col("embedding")))
    q = normed.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    c = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cosine_sim", vdot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )
    q_pdf = q.select("query_id", "qvec").toPandas()
    fast = cosine_topk_np(q_pdf, e, k=5)

    ex = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim) for r in exact.collect()}
    fa = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim) for r in fast.collect()}
    assert set(ex) == set(fa)
    for key in ex:
        assert ex[key][0] == fa[key][0], (key, ex[key], fa[key])
        assert abs(ex[key][1] - fa[key][1]) <= 1e-9


def test_cosine_topk_np_ids_set_matches_fold(spark):
    """The gated ids-only projection (ann_cosine_topk_np_ids, VERDICT
    r12 ask #5): the numpy kernel's (query_id, neighbor_id) SET equals
    the exact fold's — the k-boundary score gaps dwarf the ~1e-12
    summation-order divergence, so the id set is float-robust even
    though raw similarities are not. Verified EQUAL at
    sf0.001/0.01/0.1/sf1 before gating (round 13)."""
    import __spark_entry__ as contract

    qs = contract.queries()
    sf = "/root/testdata/sf0.001"
    fold = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_cosine_topk"](spark, sf).collect()
    }
    ids = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_cosine_topk_np_ids"](spark, sf).collect()
    }
    assert fold == ids
    assert len(ids) == 50  # 5 queries x top-10


def test_ivf_bucketed_np_ids_set_matches_oracle_form(spark, duck_small):
    """The gated ids-only IVF projection (ann_ivf_bucketed_np_ids,
    round 13): the numpy kernel's (query_id, neighbor_id) SET equals
    the exact-fold IVF oracle's — centroid assignment AND k-boundary
    are float-robust. Verified EQUAL at sf0.001/0.01/0.1/sf1 before
    gating."""
    import __spark_entry__ as contract

    qs, osql = contract.queries(), contract.oracle_sql()
    sf = "/root/testdata/sf0.001"
    ids = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_ivf_bucketed_np_ids"](spark, sf).collect()
    }
    duck = {
        (a, b)
        for a, b in duck_small.sql(osql["ann_ivf_bucketed_np_ids"]).fetchall()
    }
    assert ids == duck
    assert len(ids) == 25  # 5 queries x top-5


def test_ivf_search_np_matches_fold(spark):
    """Arrow/numpy IVF agrees with the fold-based ivf_search: identical
    (query, rank) -> neighbor assignments, similarities to ~1e-9."""
    from glamira_batch_processing_spark.operators.similarity import (
        ivf_search,
        ivf_search_np,
    )

    sf = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    pred = F.col("vec_id") % 100 == 0
    for nprobe in (1, 2):
        fold = ivf_search(vecs, cents, pred, k=5, nprobe=nprobe)
        fast = ivf_search_np(vecs, cents.toPandas(), pred, k=5, nprobe=nprobe)
        fo = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim) for r in fold.collect()}
        fa = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim) for r in fast.collect()}
        assert set(fo) == set(fa)
        for key in fo:
            assert fo[key][0] == fa[key][0], (nprobe, key, fo[key], fa[key])
            assert abs(fo[key][1] - fa[key][1]) <= 1e-9


def test_ivf_multiprobe_recall(spark):
    """Recall@5 vs exact improves with nprobe and reaches 1.0 when all
    buckets are probed (exhaustive == exact)."""
    from glamira_batch_processing_spark.operators.similarity import ivf_search
    import __spark_entry__ as contract

    sf = "/root/testdata/sf0.001"
    exact = contract.queries()["ann_cosine_topk"](spark, sf)
    truth = {}
    for r in exact.filter("rank <= 5").collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    pred = F.col("vec_id") % 100 == 0

    def recall(nprobe):
        got = {}
        res = ivf_search(vecs, cents, pred, k=5, nprobe=nprobe)
        for r in res.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        rs = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
        return sum(rs) / len(rs)

    r1, r2, r8 = recall(1), recall(2), recall(8)
    assert r1 >= 0.3       # measured 0.36 on this deterministic data
    assert r2 >= r1
    assert r8 == 1.0       # probing every bucket == brute force


def test_pixel_decode_roundtrip_png_bmp():
    """Rasterization is REAL: both containers decode back to the exact
    gradient raster the renderer embedded (PNG via zlib+unfilter, BMP
    via bottom-up BGR rows with padding)."""
    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
        image_bytes,
        test_pattern,
    )

    from glamira_batch_processing_spark.operators.multimodal import (
        gif_test_pattern,
    )

    for fmt in ("png", "bmp"):
        for w, h in ((7, 5), (33, 17)):  # odd widths exercise BMP padding
            px = _decode_pixels_real(image_bytes(fmt, w, h))
            assert px.shape == (h, w, 3)
            assert np.array_equal(px, test_pattern(w, h)), fmt
    # GIF round-trips through the in-engine LZW encoder + decoder
    for w, h in ((7, 5), (33, 17)):
        px = _decode_pixels_real(image_bytes("gif", w, h))
        assert px.shape == (h, w, 3)
        assert np.array_equal(px, gif_test_pattern(w, h))


def test_png_unfilter_all_filter_types():
    """Forward-filter a known raster with each PNG filter type, then
    assert the decoder inverts it exactly."""
    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _png_unfilter,
        test_pattern,
    )

    w, h, ch = 9, 6, 3
    px = test_pattern(w, h)
    flat = px.reshape(h, w * ch).astype(np.int16)

    def forward(ftype):
        out = bytearray()
        for y in range(h):
            cur = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(w * ch, dtype=np.int16)
            line = np.zeros(w * ch, dtype=np.int16)
            for i in range(w * ch):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) // 2
                else:  # paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (int(cur[i]) - pred) & 0xFF
            out += bytes([ftype]) + bytes(line.astype(np.uint8).tolist())
        return bytes(out)

    for ftype in range(5):
        got = _png_unfilter(forward(ftype), w, h, ch)
        assert np.array_equal(got, px), f"filter {ftype}"


def test_range_lookup_join_semantics(spark):
    """Bucketed range join == naive BETWEEN join: inclusive bounds,
    overlapping ranges fan out, bucket-straddling ranges still match,
    null points never match."""
    from glamira_batch_processing_spark.operators.rangejoin import range_lookup_join

    ranges = spark.createDataFrame(
        [
            (1, 0, 99),      # within one bucket (width 64: buckets 0-1)
            (2, 50, 200),    # straddles buckets, overlaps range 1
            (3, 1000, 1000), # degenerate single-point range
        ],
        "rid long, range_start long, range_end long",
    )
    points = spark.createDataFrame(
        [(10, 0), (11, 99), (12, 100), (13, 150), (14, 1000), (15, 999), (16, None)],
        "pid long, p long",
    )
    out = range_lookup_join(points, ranges, "p", "range_start", "range_end", bucket_width=64)
    got = sorted((r.pid, r.rid) for r in out.collect())
    assert got == [
        (10, 1),          # start boundary inclusive
        (11, 1), (11, 2), # overlap: both ranges match
        (12, 2),
        (13, 2),
        (14, 3),          # single-point range, end boundary inclusive
    ]


def test_review_fixes_hardening(spark):
    """Round-3 self-review fixes: JPEG fill bytes, null embeddings,
    inverted/corrupt ranges, z-order bit budget, odd profiler column
    names."""
    import struct as _struct

    import pytest as _pytest

    # JPEG: spec-legal 0xFF fill byte before the SOF marker
    from glamira_batch_processing_spark.operators.multimodal import _decode_image_real

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + _struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff"  # fill byte
        + b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08" + _struct.pack(">HH", 10, 20)
        + b"\x03\x00\x00\x00"
    )
    assert _decode_image_real(jpeg) == (20, 10, "jpeg")

    # null embeddings must not crash the numpy kernels
    from glamira_batch_processing_spark.operators.similarity import ivf_search_np
    import pandas as pd

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cpdf = pd.DataFrame({"centroid_id": [0, 1], "cvec": [[1.0, 0.0], [0.0, 1.0]]})
    res = ivf_search_np(vecs, cpdf, F.col("vec_id") == 0, k=2, nprobe=2)
    assert {r.neighbor_id for r in res.collect()} <= {2, 3}

    # inverted / null-bounded / huge-span ranges are dropped, not fatal
    from glamira_batch_processing_spark.operators.rangejoin import range_lookup_join

    ranges = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 10), (3, None, 50), (4, 5, None)],
        "rid long, range_start long, range_end long",
    )
    pts = spark.createDataFrame([(1, 15)], "pid long, p long")
    got = [(r.pid, r.rid) for r in range_lookup_join(pts, ranges, "p", "range_start", "range_end").collect()]
    assert got == [(1, 1)]

    # z-order bit-budget guard
    from glamira_batch_processing_spark.sources.writers import sql_zorder_key, zorder_key

    df4 = spark.createDataFrame([(1, 2, 3, 4)], "a long, b long, c long, d long")
    with _pytest.raises(ValueError):
        zorder_key(df4, ["a", "b", "c", "d"], bits=16)
    with _pytest.raises(ValueError):
        sql_zorder_key("t", ["a", "b", "c", "d"], bits=16)
    zorder_key(df4, ["a", "b", "c", "d"], bits=15)  # 60 bits: fine

    # profiler handles hostile column names
    from glamira_batch_processing_spark.operators.audit import column_profile

    odd = spark.createDataFrame([(1, "x")], ["order id", "o'brien.col"])
    prof = {r.column_name: r for r in column_profile(odd, ["order id", "o'brien.col"]).collect()}
    assert prof["order id"].n_rows == 1
    assert prof["o'brien.col"].n_distinct == 1


def test_lsh_fast_parity(spark):
    """xxhash64 production LSH vs the md5 oracle fold (VERDICT r3 #2).

    LSH recall on a pair with Jaccard s is 1-(1-s^3)^4 — below 1 for
    s < 1, and WHICH borderline pairs land in a shared band is hash-
    family-dependent. So the meaningful parity is not set equality:
    (a) both families must catch EVERY exact-duplicate pair (s = 1 =>
        identical signatures => recall exactly 1 for any hash family);
    (b) the symmetric difference must be tiny and consist solely of
        borderline pairs (true Jaccard strictly below 0.9).
    At SF_SMALL the observed diff is one pair with Jaccard 0.727
    (per-family catch probability ~0.84)."""
    from glamira_batch_processing_spark.operators.dedup import (
        content_key,
        lsh_candidate_pairs,
        lsh_candidate_pairs_fast,
        ngram_jaccard_pairs,
    )
    from glamira_batch_processing_spark.plans.datapipe_queries import corpus

    from tests.conftest import SF_SMALL

    c = corpus(spark, SF_SMALL).repartition(8, "doc_id")
    md5_pairs = {tuple(r) for r in lsh_candidate_pairs(c).collect()}
    fast_pairs = {tuple(r) for r in lsh_candidate_pairs_fast(c).collect()}
    assert md5_pairs, "empty candidate set: corpus dup injection broke"

    # (a) exact-dup recall is 1 for both families.
    groups = (
        c.groupBy(content_key(F.col("text")).alias("h"))
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    exact = {
        (a, b)
        for g in groups
        for a in g.ids
        for b in g.ids
        if a < b
    }
    assert exact, "no exact-dup pairs: corpus injection broke"
    assert exact <= md5_pairs
    assert exact <= fast_pairs

    # (b) divergence is bounded and strictly borderline.
    diff = md5_pairs ^ fast_pairs
    assert len(diff) <= max(3, len(md5_pairs | fast_pairs) // 50), diff
    if diff:
        jacc = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(c, threshold=0.0).collect()
            if (r.doc_a, r.doc_b) in diff
        }
        high = {p: j for p, j in jacc.items() if j >= 0.9}
        assert not high, f"non-borderline pairs diverged: {high}"


def test_jpeg_walker_edge_cases():
    """Round-3 VERDICT ask #8: crafted JPEG streams — restart/TEM
    standalone markers must not desync the segment walk, SOS must stop
    it, EXIF transposed orientations must swap reported dims, and a
    legacy BMP core header must be refused (not parsed as garbage)."""
    import struct

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_image_real,
        _jpeg_exif_orientation,
    )

    def seg(marker, payload=b""):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    sof = seg(0xC0, struct.pack(">BHHB", 8, 31, 17, 3))  # h=31 w=17

    # baseline: SOI + APP0 + SOF
    base = b"\xff\xd8" + seg(0xE0, b"JFIF\x00") + sof
    assert _decode_image_real(base) == (17, 31, "jpeg")

    # standalone RST/TEM markers interleaved before SOF: no length field
    rst = b"\xff\xd8" + seg(0xDD, b"\x00\x10") + b"\xff\xd0" + b"\xff\x01" + sof
    assert _decode_image_real(rst) == (17, 31, "jpeg")

    # 0xFF fill bytes before a marker
    fill = b"\xff\xd8" + b"\xff\xff\xff" + sof[1:]
    assert _decode_image_real(fill) == (17, 31, "jpeg")

    # progressive SOF2 counts as SOF
    sof2 = b"\xff\xd8" + seg(0xC2, struct.pack(">BHHB", 8, 31, 17, 3))
    assert _decode_image_real(sof2) == (17, 31, "jpeg")

    # SOS with no prior SOF: stop, don't walk entropy data as segments
    import pytest as _pytest

    sos_first = b"\xff\xd8" + seg(0xDA, b"\x01\x01\x00") + b"\x12\x34" * 50
    with _pytest.raises(ValueError):
        _decode_image_real(sos_first)

    # zero/short segment length: error, not an infinite loop
    with _pytest.raises(ValueError):
        _decode_image_real(b"\xff\xd8" + b"\xff\xe0\x00\x01" + sof)

    # EXIF orientation 6 (90deg rotation): display dims are swapped
    tiff = (
        b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
        + struct.pack("<H", 1)
        + struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", 6, 0)
        + struct.pack("<I", 0)
    )
    exif = b"Exif\x00\x00" + tiff
    assert _jpeg_exif_orientation(exif) == 6
    rotated = b"\xff\xd8" + seg(0xE1, exif) + sof
    assert _decode_image_real(rotated) == (31, 17, "jpeg")
    # orientation 1 (normal) leaves dims alone; big-endian TIFF too
    tiff_be = (
        b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
        + struct.pack(">H", 1)
        + struct.pack(">HHI", 0x0112, 3, 1) + struct.pack(">HH", 1, 0)
        + struct.pack(">I", 0)
    )
    normal = b"\xff\xd8" + seg(0xE1, b"Exif\x00\x00" + tiff_be) + sof
    assert _decode_image_real(normal) == (17, 31, "jpeg")
    # malformed EXIF never raises, never rotates
    junk = b"\xff\xd8" + seg(0xE1, b"Exif\x00\x00" + b"XX\x00\x00") + sof
    assert _decode_image_real(junk) == (17, 31, "jpeg")

    # legacy BITMAPCOREHEADER (12-byte DIB): refused, not garbage dims
    core = (
        b"BM" + struct.pack("<IHHI", 38, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 17, 31, 1, 24) + b"\x00" * 8
    )
    with _pytest.raises(ValueError):
        _decode_image_real(core)


def test_image_header_fuzz_never_desyncs():
    """Deterministic fuzz over mutated container prefixes: the header
    decoder must either return a 3-tuple or raise ValueError — never
    IndexError/struct.error/KeyError, never hang."""
    import struct as _struct

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_image_real,
    )

    seeds = [
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 16,
        b"GIF89a" + b"\x11\x00\x22\x00",
        b"BM" + b"\x00" * 40,
        b"\xff\xd8" + b"\xff\xe0\x00\x10" + b"J" * 14 + b"\xff\xc0\x00\x0b"
        + b"\x08\x00\x1f\x00\x11\x03" + b"\x00" * 5,
    ]
    x = 123456789
    for seed in seeds:
        for trunc in range(len(seed)):
            payload = seed[:trunc]
            try:
                out = _decode_image_real(payload)
                assert isinstance(out, tuple) and len(out) == 3
            except ValueError:
                pass
        # byte-flip mutations, xorshift-deterministic
        for _ in range(300):
            x ^= (x << 13) & 0xFFFFFFFF
            x ^= x >> 17
            x ^= (x << 5) & 0xFFFFFFFF
            pos = x % len(seed)
            flip = (x >> 8) & 0xFF
            payload = seed[:pos] + bytes([seed[pos] ^ flip]) + seed[pos + 1 :]
            try:
                out = _decode_image_real(payload)
                assert isinstance(out, tuple) and len(out) == 3
            except ValueError:
                pass


def test_asof_broadcast_matches_window_form(spark):
    """Broadcast as-of (zero-shuffle left) must agree exactly with the
    union+window form on every edge: ties at equal ts, no prior right
    row, null left key, null left ts, duplicate left rows."""
    from glamira_batch_processing_spark.operators.asof import (
        asof_join,
        asof_join_broadcast,
    )

    left = spark.createDataFrame(
        [
            (1, "u1", 10),
            (2, "u1", 20),   # tie with right ts=20 -> matches it (<=)
            (3, "u1", 5),    # before any right row -> NULL
            (4, "u2", 50),
            (5, None, 30),   # null key
            (6, "u1", None), # null ts
            (7, "u1", 10),   # duplicate (key, ts) with different id
        ],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("u1", 8, 1.0), ("u1", 20, 2.0), ("u2", 49, 3.0), (None, 29, 9.0)],
        "user_id string, ts long, val double",
    )
    kw = dict(key="user_id", left_ts="ts", right_ts="ts", value_cols=["val"])
    a = sorted(map(tuple, asof_join(left, right, **kw).collect()))
    b = sorted(map(tuple, asof_join_broadcast(left, right, **kw).collect()))
    assert a == b
    got = {r[0]: r[3] for r in b}
    assert got == {1: 1.0, 2: 2.0, 3: None, 4: 3.0, 5: 9.0, 6: None, 7: 1.0}


def test_countmin_overestimates_and_merges(spark):
    """Count-Min guarantees: est >= true count for every item; shard
    sketches merge by element-wise addition into exactly the whole-
    corpus sketch; estimation never shuffles the probed corpus."""
    from glamira_batch_processing_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    rows = [(i, f"tok{i % 37}") for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, token string")
    sk = cms_sketch(df, F.col("token"), depth=4, width=64)

    truth = {r.token: r.n for r in df.groupBy("token").agg(F.count("*").alias("n")).collect()}
    probes = spark.createDataFrame(
        [(t,) for t in list(truth) + ["never-seen-a", "never-seen-b"]], "token string"
    )
    est = {r.token: r.est_count for r in cms_estimate(sk, probes, "token", depth=4, width=64).collect()}
    for t, n in truth.items():
        assert est[t] >= n, (t, est[t], n)
    assert est["never-seen-a"] >= 0 and est["never-seen-b"] >= 0
    # total overestimate is bounded in aggregate: matrix mass per depth
    # equals the stream length, so avg estimate error is small
    assert sum(est[t] for t in truth) <= sum(truth.values()) * 2

    # mergeability: shard sketches add up to the whole-corpus sketch
    s1 = cms_sketch(df.filter(F.col("id") % 2 == 0), F.col("token"), depth=4, width=64)
    s2 = cms_sketch(df.filter(F.col("id") % 2 == 1), F.col("token"), depth=4, width=64)
    merged = (
        s1.unionByName(s2)
        .groupBy("depth", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    whole = {(r.depth, r.bucket): r.n for r in sk.collect()}
    got = {(r.depth, r.bucket): r.n for r in merged.collect()}
    assert got == whole


def test_hll_estimate_within_bound(spark):
    from glamira_batch_processing_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    sk = hll_sketch(spark.range(5000), F.col("id"), m=64)
    est = hll_estimate([(r.register, r.max_rho) for r in sk.collect()], m=64)
    # m=64 -> relative error ~1.04/sqrt(64) = 13%; 3 sigma bound
    assert abs(est - 5000) / 5000 < 0.4, est


def test_hll_estimate_query_matches_driver_side_math(spark):
    """The in-engine estimate leg (sketch_hll_estimate) must agree with
    the driver-side hll_estimate() on the same register state — outside
    the small-range regime they are the same raw formula, so equality
    is exact; in the small-range regime the query emits the flag and
    the raw value while hll_estimate() applies linear counting."""
    from glamira_batch_processing_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )
    from glamira_batch_processing_spark.plans import session_queries  # noqa: F401
    from glamira_batch_processing_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMALL

    row = QUERIES["sketch_hll_estimate"](spark, SF_SMALL).collect()[0]
    sk = hll_sketch(
        spark.read.parquet(f"{SF_SMALL}/events.parquet"),
        F.col("event_id"),
        m=64,
    )
    regs = [(r.register, r.max_rho) for r in sk.collect()]
    driver_est = hll_estimate(regs, m=64)
    assert row.m == 64 and row.n_filled + row.zeros == 64
    if row.is_small_range == 0:
        assert row.raw_est == driver_est, (row.raw_est, driver_est)
    # estimate quality: within the 3-sigma HLL bound of the exact count
    assert abs(row.raw_est - row.exact_distinct) / row.exact_distinct < 0.4


def test_hll_estimate_small_range_flag(spark):
    """A tiny input leaves empty registers: the query must flag the
    small-range regime instead of silently reporting the biased raw
    estimate as final (the ln-based correction is pytest-side only —
    transcendentals are not cross-engine stable)."""
    from glamira_batch_processing_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    tiny = spark.range(8)
    sk = hll_sketch(tiny, F.col("id"), m=64)
    regs = [(r.register, r.max_rho) for r in sk.collect()]
    est = hll_estimate(regs, m=64)
    # linear counting on 8 distinct with 64 registers: near-exact
    assert abs(est - 8) / 8 < 0.2, est


def test_bloom_no_false_negatives_and_merge_is_elementwise_or(spark):
    """Every inserted key must probe positive (Bloom guarantees no
    false negatives), and a sharded build OR-merged word-wise must
    equal the single-pass filter (the idempotent merge law that makes
    it retry/speculation/stream-replay safe)."""
    from glamira_batch_processing_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.range(0, 100)
    words = bloom_build(keys, F.col("id"))
    probed = bloom_probe(keys, F.col("id"), words)
    assert probed.filter("maybe_present = 0").count() == 0

    a = bloom_build(spark.range(0, 60), F.col("id"))
    b = bloom_build(spark.range(40, 100), F.col("id"))
    merged = (
        a.unionByName(b)
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
    assert sorted((r.word, r.mask) for r in merged.collect()) == sorted(
        (r.word, r.mask) for r in words.collect()
    )


def test_bloom_absent_keys_mostly_negative(spark):
    """Probing keys disjoint from the build set: the false-positive
    rate must sit near the analytic (1-e^(-kn/m))^k, not at saturation
    — catches a broken position derivation that sets too many bits."""
    from glamira_batch_processing_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    words = bloom_build(spark.range(0, 60), F.col("id"))
    absent = spark.range(10_000, 10_500)
    fp = bloom_probe(absent, F.col("id"), words).filter(
        "maybe_present = 1"
    ).count()
    # k=3, n=60, m=504 -> p_bit ~ 0.30, fp ~ 2.7%; allow generous slack
    assert fp / 500 < 0.15, fp


def test_hll_shard_merge_is_elementwise_max(spark):
    from glamira_batch_processing_spark.operators.sketches import hll_sketch

    full = hll_sketch(spark.range(5000), F.col("id"), m=64)
    a = hll_sketch(spark.range(0, 3000), F.col("id"), m=64)
    b = hll_sketch(spark.range(2000, 5000), F.col("id"), m=64)
    merged = (
        a.unionByName(b)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert sorted((r.register, r.max_rho) for r in merged.collect()) == sorted(
        (r.register, r.max_rho) for r in full.collect()
    )


def test_quantile_sample_error_bound_and_merge(spark):
    """The 256-row sample quantiles must land near the exact quantiles
    (DKW-style bound: 256 samples give ~±0.09 rank error at 99%
    confidence; assert ±0.12 rank tolerance on value's uniform-ish
    distribution), and shard-merge (union + re-bottom-k) must equal the
    single-pass sample."""
    import __spark_entry__  # noqa: F401
    from pyspark.sql import functions as F
    from glamira_batch_processing_spark.plans.registry import QUERIES, table
    from tests.conftest import SF_SMALL

    est = QUERIES["sketch_quantile_sample"](spark, SF_SMALL).collect()[0]
    e = table(spark, SF_SMALL, "events")
    n = e.count()
    for q, v_est in ((0.5, est.p50_est), (0.9, est.p90_est)):
        rank = e.filter(F.col("value") <= v_est).count() / n
        assert abs(rank - q) < 0.12, f"p{int(q*100)} est rank {rank}"

    # merge law: per-shard bottom-k then global bottom-k == one pass
    tagged = e.select(
        "event_id",
        "value",
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit("qsk-v1"))).alias("tag"),
    )
    single = {r.event_id for r in tagged.orderBy("tag").limit(256).collect()}
    shard_a = tagged.filter(F.col("event_id") % 2 == 0).orderBy("tag").limit(256)
    shard_b = tagged.filter(F.col("event_id") % 2 == 1).orderBy("tag").limit(256)
    merged = {
        r.event_id
        for r in shard_a.unionByName(shard_b).orderBy("tag").limit(256).collect()
    }
    assert merged == single


def test_pq_encode_and_adc_match_numpy_reference(spark):
    """PQ ADC rankings equal an independent plain-numpy
    reimplementation of the encode and the ADC sum (round-half-up
    micro-quantization, lower-code ties), on real embeddings."""
    import numpy as np

    from glamira_batch_processing_spark.operators.pq import (
        QUANT,
        pq_adc_topk,
        pq_codebooks,
    )
    from tests.conftest import SF_MEDIUM

    e = (
        spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(60)
    )
    books = pq_codebooks(64, 8, 16)
    B = np.array(books)  # [m][ks][ds]

    rows = e.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def subdist_q(v, s, cent):
        d = 0.0
        for x, y in zip(v[s * 8 : s * 8 + 8], cent):
            d += (x - y) * (x - y)
        return int(np.floor(d * QUANT + 0.5))

    def encode(v):
        return [
            min(range(16), key=lambda c: (subdist_q(v, s, B[s][c]), c))
            for s in range(8)
        ]

    codes = {vid: encode(v) for vid, v in vecs.items()}

    # ADC: query = the first two vectors
    qids = sorted(vecs)[:2]
    queries = e.filter(F.col("vec_id").isin([int(q) for q in qids])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = pq_adc_topk(e, queries, books, k=5).collect()
    got = {(r.query_id, r.neighbor_id): (r.rank, r.adc_q1e6) for r in out}

    for q in qids:
        scores = {}
        for vid, v in vecs.items():
            if vid == q:
                continue
            scores[vid] = sum(
                subdist_q(vecs[q], s, B[s][codes[vid][s]]) for s in range(8)
            )
        top = sorted(scores.items(), key=lambda kv: (kv[1], kv[0]))[:5]
        for rank, (vid, sc) in enumerate(top, start=1):
            assert got[(q, vid)] == (rank, sc)


# ---------------------------------------------------------------------------
# GIF pixel decode (round-5): in-test LZW encoder round trip.
# ---------------------------------------------------------------------------


def _lzw_pack(codes, code_size):
    """LSB-first bit packing of fixed-width LZW codes."""
    bits = []
    for code in codes:
        for i in range(code_size):
            bits.append((code >> i) & 1)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for j, bit in enumerate(bits[i : i + 8]):
            b |= bit << j
        out.append(b)
    return bytes(out)


def _gif_bytes(w, h, indices, palette, interlaced=False, min_code=2):
    """Minimal valid GIF89a: clear-code-per-symbol LZW (code width never
    grows, so fixed-width packing is spec-correct)."""
    import struct as st

    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear]
    for ix in indices:
        codes += [ix, clear]
    codes[-1] = end  # replace the trailing clear with END
    data = _lzw_pack(codes, min_code + 1)
    gct_bits = 1  # 4-entry global color table
    pal = b"".join(bytes(c) for c in palette)
    assert len(palette) == 4
    flags = 0x40 if interlaced else 0
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        b"GIF89a"
        + st.pack("<HH", w, h)
        + bytes([0x80 | gct_bits, 0, 0])
        + pal
        + b"\x2c"
        + st.pack("<HHHH", 0, 0, w, h)
        + bytes([flags])
        + bytes([min_code])
        + blocks
        + b"\x00\x3b"
    )


_PALETTE4 = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]


def test_gif_pixel_decode_round_trip():
    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
    )

    idx = [0, 1, 2, 3, 3, 2, 1, 0, 1, 1, 2, 2]  # 4x3
    px = _decode_pixels_real(_gif_bytes(4, 3, idx, _PALETTE4))
    assert px.shape == (3, 4, 3)
    expect = np.array([_PALETTE4[i] for i in idx], dtype=np.uint8).reshape(
        3, 4, 3
    )
    assert (px == expect).all()


def test_gif_interlaced_rows_reordered():
    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
    )

    # display rows 0,1,2 -> interlace source order 0, 2, 1
    rows_display = [[1, 1], [2, 2], [3, 3]]
    src_order = [rows_display[0], rows_display[2], rows_display[1]]
    idx = [i for row in src_order for i in row]
    px = _decode_pixels_real(_gif_bytes(2, 3, idx, _PALETTE4, interlaced=True))
    expect = np.array(
        [[_PALETTE4[i] for i in row] for row in rows_display], dtype=np.uint8
    )
    assert (px == expect).all()


def test_gif_lzw_kwkwk_case():
    """The code-equals-next-entry (KwKwK) rule: codes [CLEAR, 0, 6, END]
    at min_code_size=2 decode to indices [0, 0, 0]."""
    import struct as st

    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
        _gif_lzw_decode,
    )

    data = _lzw_pack([4, 0, 6, 5], 3)
    assert _gif_lzw_decode(2, data, 3) == [0, 0, 0]
    pal = b"".join(bytes(c) for c in _PALETTE4)
    payload = (
        b"GIF89a"
        + st.pack("<HH", 3, 1)
        + bytes([0x81, 0, 0])
        + pal
        + b"\x2c"
        + st.pack("<HHHH", 0, 0, 3, 1)
        + b"\x00\x02"
        + bytes([len(data)])
        + data
        + b"\x00\x3b"
    )
    px = _decode_pixels_real(payload)
    assert (px == np.zeros((1, 3, 3), dtype=np.uint8)).all()


def test_gif_decode_skips_extensions_and_validates():
    import pytest as _pytest
    import struct as st

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
    )

    # graphic-control extension before the image descriptor is skipped
    base = _gif_bytes(2, 1, [1, 2], _PALETTE4)
    head, rest = base[: 13 + 12], base[13 + 12 :]
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    assert rest[0] == 0x2C
    px = _decode_pixels_real(head + ext + rest)
    assert px.shape == (1, 2, 3)
    # truncated LZW stream -> ValueError, not garbage pixels
    trunc = _gif_bytes(4, 3, [0] * 2, _PALETTE4)
    with _pytest.raises(ValueError):
        _decode_pixels_real(trunc)


def test_gif_frame_offset_composited_to_logical_screen():
    """A first frame positioned inside a larger logical screen must
    decode to a logical-screen-sized raster with the frame composited
    at its (left, top) offset onto the background color (ADVICE r5:
    the sub-image-sized raster disagreed with the header-metadata
    dimensions for the same payload)."""
    import struct as st

    import numpy as np

    from glamira_batch_processing_spark.operators.multimodal import (
        _decode_pixels_real,
    )

    # 2x1 frame at offset (1, 1) inside a 4x3 logical screen,
    # background color index 2 (green).
    idx = [1, 3]
    base = _gif_bytes(2, 1, idx, _PALETTE4)
    patched = (
        base[:6]
        + st.pack("<HH", 4, 3)          # logical screen 4x3
        + bytes([base[10], 2, base[12]])  # background color index = 2
        + base[13 : 13 + 12]
        + b"\x2c"
        + st.pack("<HHHH", 1, 1, 2, 1)  # descriptor: left=1, top=1
        + base[13 + 12 + 9 :]
    )
    px = _decode_pixels_real(patched)
    assert px.shape == (3, 4, 3)
    expect = np.broadcast_to(
        np.array(_PALETTE4[2], dtype=np.uint8), (3, 4, 3)
    ).copy()
    expect[1, 1] = _PALETTE4[1]
    expect[1, 2] = _PALETTE4[3]
    assert (px == expect).all()
    # frame exceeding the logical screen -> ValueError, not silent crop
    import pytest as _pytest

    bad = (
        base[:6]
        + st.pack("<HH", 2, 1)
        + base[10:13]
        + base[13 : 13 + 12]
        + b"\x2c"
        + st.pack("<HHHH", 1, 0, 2, 1)  # left=1 + w=2 > screen w=2
        + base[13 + 12 + 9 :]
    )
    with _pytest.raises(ValueError):
        _decode_pixels_real(bad)


def test_png_adam7_interlaced_decodes_exactly():
    """Round 6: Adam7-interlaced PNGs previously unfiltered with wrong
    geometry into silent garbage (the interlace byte was never read).
    Build an interlaced PNG pass-by-pass (filter-0 rows per sub-image)
    and require pixel-exact recovery of the original raster, plus a
    clean error on a truncated interlaced stream."""
    import struct as st
    import zlib

    import numpy as np
    import pytest as _pytest

    from glamira_batch_processing_spark.operators.multimodal import (
        _PNG_ADAM7,
        _decode_pixels_real,
    )

    def make_interlaced_png(rgb):
        h, w = rgb.shape[:2]
        raw = bytearray()
        for x0, dx, y0, dy in _PNG_ADAM7:
            sub = rgb[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                raw += b"\x00" + row.tobytes()

        def chunk(tag, body):
            c = tag + body
            return st.pack(">I", len(body)) + c + st.pack(
                ">I", zlib.crc32(c) & 0xFFFFFFFF
            )

        ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    for w, h in ((13, 9), (8, 8), (3, 2), (1, 1), (16, 5)):
        rgb = (
            np.arange(h * w * 3, dtype=np.int64).reshape(h, w, 3) * 7 % 256
        ).astype(np.uint8)
        out = _decode_pixels_real(make_interlaced_png(rgb))
        assert np.array_equal(out, rgb), (w, h)
    # truncated interlaced stream -> clean error, not garbage
    good = make_interlaced_png(np.zeros((8, 8, 3), dtype=np.uint8))
    # corrupt: reduce IDAT length by rebuilding with dropped raw bytes
    raw_short = zlib.compress(b"\x00" * 10)
    idat_at = good.find(b"IDAT") - 4
    with _pytest.raises((ValueError, zlib.error)):
        _decode_pixels_real(
            good[:idat_at]
            + st.pack(">I", len(raw_short))
            + b"IDAT"
            + raw_short
            + st.pack(">I", zlib.crc32(b"IDAT" + raw_short) & 0xFFFFFFFF)
            + good[good.find(b"IEND") - 4 :]
        )


def test_semdedup_min_id_survivor_policy(spark):
    """A planted duplicate pair must land in one cluster with the
    LOWER id kept and the higher pruned; an isolated vector is never
    pruned. Uses two well-separated synthetic directions so cluster
    assignment is unambiguous."""
    from glamira_batch_processing_spark.operators.clustering import (
        seed_centroids,
    )
    from glamira_batch_processing_spark.operators.similarity import (
        semdedup_prune,
    )

    cents = seed_centroids(dim=8, k=4)
    # v0/v1 identical (cosine 1.0); v2 orthogonal-ish loner.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 1.0]),
        (1, [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 1.0]),
        (2, [0.0, -3.0, 0.0, 1.0, 0.0, 0.0, -1.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster_id, r.is_pruned)
        for r in semdedup_prune(vecs, cents, tau=0.95).collect()
    }
    assert got[0][0] == got[1][0], "identical vectors must share a cluster"
    assert got[0][1] is False, "min-id survivor must be kept"
    assert got[1][1] is True, "higher-id duplicate must be pruned"
    assert got[2][1] is False, "isolated vector must survive"


def test_asof_directions_match_pandas_merge_asof(spark):
    """Full merge_asof surface: backward/forward/nearest x tolerance,
    BOTH formulations, differential against pandas merge_asof (the
    operator's de-facto reference semantics, incl. nearest's
    backward-on-tie rule)."""
    import numpy as np
    import pandas as pd

    from glamira_batch_processing_spark.operators.asof import (
        asof_join,
        asof_join_broadcast,
    )

    rng = np.random.RandomState(7)
    L = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 120),
            "lt": rng.randint(0, 500, 120).astype("int64"),
        }
    ).assign(rid=lambda d: range(len(d)))
    R = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 60),
            "rt": rng.randint(0, 500, 60).astype("int64"),
            "val": rng.randint(0, 10**6, 60).astype("int64"),
        }
    ).drop_duplicates(["k", "rt"])
    ldf, rdf = spark.createDataFrame(L), spark.createDataFrame(R)

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 40):
            ref = pd.merge_asof(
                L.sort_values("lt"),
                R.sort_values("rt"),
                left_on="lt",
                right_on="rt",
                by="k",
                direction=direction,
                tolerance=tol,
            )
            exp = dict(zip(ref["rid"], ref["val"]))
            for fn in (asof_join, asof_join_broadcast):
                out = fn(
                    ldf, rdf, "k", "lt", "rt", ["val"],
                    direction=direction, tolerance=tol,
                )
                got = {r["rid"]: r["val"] for r in out.collect()}
                for rid, want in exp.items():
                    have = got[rid]
                    if pd.isna(want):
                        assert have is None, (direction, tol, fn.__name__, rid)
                    else:
                        assert have == want, (direction, tol, fn.__name__, rid)


def test_asof_direction_validation(spark):
    from glamira_batch_processing_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1)], "k long, t long")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "k", "t", "t", [], direction="sideways")
